package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.datagen.{RetailData, StarSchema}
import graft.sources.Tables

/** The generated inputs. Every value is a pure hash of (row id, seed),
  * so one seed always gives the same files, and the program sees only
  * those files. */
object Inputs {

  /** The retail star schema at `factRows` fact rows, laid out as
    * [[RetailData]]'s snapshot (one parquet dir per table plus the
    * done-marker), so the catalog's retail queries read it when
    * `SPARK_GRAFT_RETAIL_DIR` names `dir`. Seed 42 at 200k fact rows
    * is the committed `retail_v6` snapshot. */
  def writeStar(spark: SparkSession, dir: String, factRows: Long,
      seed: Long): Map[String, Long] = {
    val rows = StarSchema.tables(spark, factRows, seed).map { case (name, df) =>
      name -> write(df, s"$dir/$name")
    }
    Files.write(Paths.get(dir, "_SNAPSHOT_DONE"),
      java.util.Arrays.asList(RetailData.version.toString))
    rows
  }

  /** Write `df` as parquet; its row count rides on the write job. */
  private def write(df: DataFrame, path: String): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite")
      .parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Write `df` as the single parquet file `path`, the layout of the
    * fixture tables (DuckDB's oracle reads them by that file name). */
  private def writeFile(df: DataFrame, path: String): Long = {
    val parts = path + ".parts"
    val rows = write(df.coalesce(1), parts)
    val part = new File(parts).listFiles.filter(_.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one parquet part under $parts")
    Files.move(part.head.toPath, Paths.get(path))
    delete(parts)
    rows
  }

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "order", "data", "column", "join", "small",
    "customer", "query", "big", "group", "stream", "the", "a")

  /** `documents` + `embeddings` at `nDocs` rows in the fixture schema
    * (`graft.sources.Tables`): the hash generator of
    * `graft.tools.PipelineHeadroom` with the seed salted into every
    * hash — 30-130 tokens per doc and ~2% planted exact duplicates
    * (a doc copies its predecessor's text), 64-dim float vectors. */
  def writeCorpus(spark: SparkSession, dir: String, nDocs: Long,
      seed: Long): Map[String, Long] = {
    val s = lit(seed)
    val vocabArr = array(vocab.map(lit): _*)
    def textFor(id: Column) = concat_ws(" ", transform(
      sequence(lit(0), (pmod(hash(id, lit("len"), s), lit(100)) + 30).cast("int")),
      i => element_at(vocabArr,
        (pmod(hash(id, i, s), lit(vocab.size)) + 1).cast("int"))))
    def planted(id: Column) = Inputs.planted(id, seed)
    val docs = spark.range(nDocs).toDF("doc_id")
      // a doc whose predecessor is itself planted is left alone: its
      // text is already a copy, so copying again plants nothing
      .withColumn("eff_id",
        when(planted(col("doc_id")) && col("doc_id") > 0 &&
          !planted(col("doc_id") - 1), col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("text", textFor(col("eff_id")))
      .withColumn("lang", element_at(
        array(Seq("en", "es", "de", "fr", "zh").map(lit): _*),
        (pmod(hash(col("doc_id"), lit("lang"), s), lit(5)) + 1).cast("int")))
      .withColumn("source", concat(lit("src"),
        pmod(hash(col("doc_id"), lit("src"), s), lit(10)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val vecs = spark.range(nDocs).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(0), lit(63)),
        i => ((pmod(hash(col("vec_id"), i, s), lit(2001)) - 1000) / 1000.0)
          .cast("float")))
      .withColumn("label",
        pmod(hash(col("vec_id"), lit("label"), s), lit(10)).cast("int"))
    Map("documents" -> writeFile(docs, Tables.path(dir, "documents")),
      "embeddings" -> writeFile(vecs, Tables.path(dir, "embeddings")))
  }

  /** Whether doc `id` was picked to copy its predecessor's text. */
  def planted(id: Column, seed: Long): Column =
    pmod(hash(id, lit("dup"), lit(seed)), lit(50)) === 0

  /** Bytes on disk under `path` (a file or a directory tree). */
  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** Data files (parquet parts) under `path`. */
  def filesUnder(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.startsWith("part-")) 1 else 0
    walk(new File(path))
  }

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new File(path))
  }
}
