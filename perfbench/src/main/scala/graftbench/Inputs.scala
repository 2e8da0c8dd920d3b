package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded input generators owned by the benchmark, so that no change to
  * the program can change a workload. Every column is a pure function of
  * `(seed, id)`: the same seed always gives the same files.
  */
object Inputs {

  /** CDC log shape. Repo ids are Zipf-skewed (inverse CDF
    * `floor(repos * u^(1+zipf))`), paths are uniform within a repo, so the
    * key space is `repos * pathsPerRepo` and repo 0 is the hottest repo.
    */
  final case class LogShape(repos: Int, pathsPerRepo: Int,
                            zipf: Double = 1.2, deleteRatio: Double = 0.05)

  val HotRepo: String = "repo-00000"

  private val langs = Seq("scala", "java", "py", "go", "rs", "md", "yaml")

  /** Change events for ids in `[start, end)`, columns as in the program's
    * event schema (`size_bytes` is set on every row).
    */
  def events(spark: SparkSession, seed: Long, shape: LogShape,
             start: Long, end: Long, parts: Int): DataFrame = {
    val id = col("id")
    def h(salt: Long) = xxhash64(lit(seed + salt), id)
    val u = pmod(h(0), lit(1000000000L)).cast("double") / 1e9
    val repoIdx = least(
      floor(lit(shape.repos.toDouble) * pow(u, lit(1.0 + shape.zipf))).cast("int"),
      lit(shape.repos - 1))
    val pathIdx = pmod(h(1), lit(shape.pathsPerRepo.toLong)).cast("int")
    // a key never changes language across updates
    val lang = element_at(array(langs.map(lit): _*),
      (pmod(xxhash64(lit(seed + 3), repoIdx.cast("long") * lit(100000L) + pathIdx.cast("long")),
        lit(langs.size.toLong)) + 1L).cast("int"))
    val repo = format_string("repo-%05d", repoIdx)
    val path = format_string("src/pkg%02d/File_%04d.%s", pmod(pathIdx, lit(10)), pathIdx, lang)
    val commit = substring(sha2(concat_ws(":", lit(seed), id), 256), 1, 40)
    val isDelete = pmod(h(2), lit(10000L)) < lit((shape.deleteRatio * 10000).toLong)
    // code-shaped filler: template tokens plus hex segments that keep
    // every row's content unique
    val rowHex = sha2(concat(commit, path), 256)
    val block = concat(lit("  private val field_"), substring(rowHex, 1, 4),
      lit(" = compute(input, 0x"), substring(rowHex, 5, 6), lit("L)\n"))
    val filler = repeat(block, (pmod(h(4), lit(8L)) + 1L).cast("int"))
    val content = concat(
      format_string("// %s/%s @ %s\n// lang=", repo, path, commit), lang,
      format_string(" seq=%d\n", id), lit("object Main {\n"), filler, lit("}\n"))
    spark.range(start, end, 1L, parts).toDF().select(
      id.as("seq"),
      when(isDelete, lit("delete")).otherwise(lit("upsert")).as("op"),
      repo.as("repo"), path.as("path"), commit.as("commit"), lang.as("lang"),
      content.as("content"),
      length(content).cast("long").as("size_bytes"))
  }

  /** Writes `files` parquet files of equal row count into `dir`, named
    * `<prefix>-<i>.parquet` in id order, from at most 4 write tasks.
    * Returns the paths in order.
    */
  def writeLogFiles(spark: SparkSession, seed: Long, shape: LogShape,
                    start: Long, end: Long, files: Int,
                    dir: Path, prefix: String): Seq[Path] = {
    require((end - start) % files == 0, "files must split the ids evenly")
    Files.createDirectories(dir)
    val tmp = Files.createTempDirectory(dir.getParent, s".gen-$prefix")
    // each task writes a contiguous id range into files of equal size, so
    // (task, file counter) order in the part names is id order
    val tasks = Seq(4, 2, 1).find(files % _ == 0).get
    events(spark, seed, shape, start, end, tasks).write.mode("overwrite")
      .option("maxRecordsPerFile", (end - start) / files).parquet(tmp.toString)
    val parts = Fs.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    require(parts.size == files, s"expected $files log files, got ${parts.size}")
    val out = parts.zipWithIndex.map { case (p, i) =>
      Files.move(p, dir.resolve(f"$prefix-$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    Fs.delete(tmp)
    out
  }

  /** Processor chain of the replay: sha256 content hash, regex tokenize and
    * a quality filter.
    */
  val pipelineYaml: String =
    """pipeline:
      |  processors:
      |    - mutation: |
      |        root.content_sha = this.content.hash("sha256")
      |        root.n_tokens = this.content.re_find_all("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").size()
      |        root.lang = this.lang.lowercase()
      |    - filter: this.n_tokens > 0
      |""".stripMargin

  /** Document corpus `(doc_id, text)` with ids below 100000, from `table`:
    * the program's sf0.1 documents test table (5000 docs of 10-100 words
    * over a 30-word vocabulary; 250 of them are near-duplicates of another
    * doc, marked by an appended " dup"). It takes the fixed slice of
    * families (a doc and its " dup" copies) whose smallest id is below
    * `below`, and adds for each taken doc a seeded perturbed copy (id +
    * 50000) in which each word is replaced, with probability `edit`, by
    * another word of the same doc. So the set of documents is the same for
    * every seed, and the seed moves pairs across a Jaccard threshold of 0.9.
    * The workload mirrors this corpus (ids + 100000) as the program's
    * near-dup gate does.
    */
  def documents(spark: SparkSession, seed: Long, table: String, below: Int,
                edit: Double): DataFrame = {
    val id = col("doc_id")
    val family = Window.partitionBy(regexp_replace(col("text"), " dup$", ""))
    val taken = spark.read.parquet(table)
      .withColumn("first", min(id).over(family))
      .where(col("first") < below)
      .select(id, col("text"))
    val words = split(col("text"), " ")
    val edited = transform(words, (w, j) =>
      when(pmod(xxhash64(lit(seed + 14), id, j), lit(1000L)) < lit((edit * 1000).toLong),
        element_at(words, (pmod(xxhash64(lit(seed + 15), id, j), size(words).cast("long")) + 1L)
          .cast("int")))
        .otherwise(w))
    taken.unionByName(taken.select((id + 50000L).as("doc_id"), array_join(edited, " ").as("text")))
  }

  /** The program's near-dup gate input shape: the table plus a mirror. */
  def mirrored(docs: DataFrame): DataFrame =
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100000L))
}

/** Small file-system helpers. */
object Fs {
  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try { val b = Seq.newBuilder[Path]; s.forEach(p => b += p); b.result() }
    finally s.close()
  }

  def delete(p: Path): Unit = {
    if (Files.isDirectory(p)) list(p).foreach(delete)
    Files.deleteIfExists(p)
  }
}
