package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.{CatalogQuery, SparkEntry}
import graft.ext.DedupIndex
import graft.sources.Tables

/** One benchmark workload: inputs made from the seed, an untimed
  * warm-up, and a closed loop of operations (one thread submits the
  * next operation only after the previous one returned).
  *
  * Every operation is recorded as a map with at least `id`, `name`,
  * `start`, `end` (epoch ms), `ok` and its result fingerprint(s). */
trait Workload {
  /** The operation names this workload runs, in order. */
  def queries: Seq[String]

  /** Generate the inputs, load them and build whatever the timed part
    * reads. Returns each phase's seconds (gen_s, load_s, index_build_s)
    * and the rows and bytes of each input table. */
  def prepare(): (Map[String, Double], Map[String, Map[String, Long]])

  /** Run every operation once, untimed. */
  def warmup(tr: Trace): Seq[Map[String, Any]]

  /** Closed loop until `seconds` have passed. */
  def window(tr: Trace, seconds: Double): Seq[Map[String, Any]]

  /** Which operations' latency the run reports. */
  def timed(op: Map[String, Any]): Boolean = true

  /** Work after the last window (index-ingest's compaction). */
  def finish(tr: Trace): Map[String, Any] = Map.empty
}

object Workload {

  /** `graft.Bench`'s forced consumer: row count plus the XOR of every
    * row's xxhash64, which references every output column so nothing
    * is pruned; `extra` aggregates ride on the same job. In a traced
    * run Catalyst's phases are forced one by one, in `core.Query`'s
    * order, each inside its own span. */
  def consume(spark: SparkSession, tr: Trace, df: DataFrame,
      extra: Column*): (Row, DataFrame) = {
    val c = tr.span("spark.analyze")(df.agg(rowCount, rowHash(df) +: extra: _*))
    if (tr.enabled) {
      val qe = c.queryExecution
      tr.span("spark.optimize")(qe.optimizedPlan)
      tr.span("spark.plan")(qe.executedPlan)
    }
    (tr.span("spark.exec")(c.collect()(0)), c)
  }

  private val rowCount = count(lit(1))
  private def rowHash(df: DataFrame) =
    bit_xor(xxhash64(struct(df.columns.map(col): _*)))

  /** The fingerprint of `df`'s rows, in its own job. */
  def fingerprintOf(df: DataFrame): Map[String, Any] =
    fingerprint(df.agg(rowCount, rowHash(df)).collect()(0))

  def fingerprint(r: Row): Map[String, Any] =
    Map("rows" -> r.getLong(0),
      "hash" -> (if (r.isNullAt(1)) null else r.getLong(1)))

  /** `graft.Bench`'s isolation between operations: whatever a query
    * cached is dropped before the next one starts. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Seconds taken by `f`, and its value. */
  def seconds[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Rows (from the generator) and bytes on disk of each input table. */
  def sizes(rows: Map[String, Long],
      path: String => String): Map[String, Map[String, Long]] =
    rows.map { case (t, n) =>
      t -> Map("rows" -> n, "bytes" -> Inputs.bytesUnder(path(t)))
    }

  def failure(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(500)}"
}

/** A fixed list of catalog queries over one input directory, timed as
  * `graft.Bench` times them: build plus the forced consumer. The loop
  * goes round the list in order until the window closes. */
abstract class QueryLoop(spark: SparkSession, names: Seq[String],
    dir: String) extends Workload {
  import Workload._

  private val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
  private val selected: Seq[CatalogQuery] = names.map(n =>
    byName.getOrElse(n, sys.error(s"no catalog query named $n")))
  private val extNames =
    graft.workloads.QueryCatalog.pipeline.map(_.name).toSet

  def queries: Seq[String] = names

  private var nextId = 0

  private def run(tr: Trace, q: CatalogQuery): Map[String, Any] = {
    val id = nextId
    nextId += 1
    val layer = if (extNames(q.name)) "ext" else "workloads"
    val start = tr.nowMs
    val res = try {
      Right(tr.operation(id, q.name) {
        val df = tr.span(s"$layer.build")(q.build(spark, dir))
        fingerprint(consume(spark, tr, df)._1)
      })
    } catch { case t: Throwable => Left(failure(t)) }
    val end = tr.nowMs
    isolate(spark)
    Map("id" -> id, "name" -> q.name, "start" -> start, "end" -> end,
      "ok" -> res.isRight, "error" -> res.left.toOption.orNull,
      "fp" -> res.toOption.orNull)
  }

  /** Two passes: the second is still faster than the first. */
  def warmup(tr: Trace): Seq[Map[String, Any]] =
    Seq.fill(2)(selected).flatten.map(run(tr, _))

  def window(tr: Trace, seconds: Double): Seq[Map[String, Any]] = {
    val deadline = tr.nowMs + seconds * 1000
    Iterator.continually(selected).flatten
      .takeWhile(_ => tr.nowMs < deadline).map(run(tr, _)).toSeq
  }
}

/** sql-star: TPC-DS, ImpalaKit and retail catalog queries over the
  * generated star schema, which the catalog's retail views read from
  * `dir` (`SPARK_GRAFT_RETAIL_DIR`). */
final class SqlStar(spark: SparkSession, seed: Long, factRows: Long,
    names: Seq[String], dir: String) extends QueryLoop(spark, names, dir) {
  import Workload._

  def prepare(): (Map[String, Double], Map[String, Map[String, Long]]) = {
    val (genS, rows) = seconds(Inputs.writeStar(spark, dir, factRows, seed))
    val (loadS, _) = seconds(graft.datagen.RetailData.views(spark))
    (Map("gen_s" -> genS, "load_s" -> loadS, "index_build_s" -> 0.0),
      sizes(rows, t => s"$dir/$t"))
  }
}

/** corpus-dedup: the dedup / ANN / text catalog queries over the
  * generated documents + embeddings corpus in `dir`. */
final class CorpusDedup(spark: SparkSession, seed: Long, nDocs: Long,
    names: Seq[String], dir: String) extends QueryLoop(spark, names, dir) {
  import Workload._

  def prepare(): (Map[String, Double], Map[String, Map[String, Long]]) = {
    val (genS, rows) = seconds(Inputs.writeCorpus(spark, dir, nDocs, seed))
    val (loadS, _) = seconds(rows.keys.foreach(Tables.table(spark, dir, _)))
    (Map("gen_s" -> genS, "load_s" -> loadS, "index_build_s" -> 0.0),
      sizes(rows, Tables.path(dir, _)))
  }
}

/** index-ingest: admission batches against the persisted
  * `DedupIndex`, the one workload that writes. The held-out docs are
  * every planted duplicate plus a tenth of the rest; set-up builds the
  * index over the other docs. Each batch then probes the index and
  * appends the docs the probe did not reject, each call one operation
  * of the closed loop. A cycle is three trickle batches (the
  * partition-pruned probe path: one re-submitted copy of an indexed doc
  * and one fresh doc) and one bulk batch (1% of the corpus, a fifth of
  * it copies, which scans every partition); a copy is always rejected,
  * so it can be re-submitted, and every probe has a match to verify.
  * The loop runs whole cycles, so every window holds the same mix. The
  * run ends with `compact`. The batch sequence is fixed by the seed,
  * so a probe's result is the same in every run that reaches it. */
final class IndexIngest(spark: SparkSession, seed: Long, nDocs: Long,
    dir: String, warehouse: String) extends Workload {
  import Workload._

  private val bulk = (nDocs / 100).toInt.max(5)
  private val table = "perfbench_dedup"
  private val cycle = 4
  private val heldOut = Inputs.planted(col("doc_id"), seed) ||
    pmod(hash(col("doc_id"), lit("pool"), lit(seed)), lit(10)) === 0

  /** (doc ids, kind) of each batch, whole cycles only; set by
    * [[prepare]]. */
  private var batches = Seq.empty[(Seq[Long], String)]

  /** Batches from `copies` (held-out docs whose text an indexed doc
    * has) and `fresh` held-out docs, until the fresh ones run out. */
  private def cut(copies: Seq[Long],
      fresh: Seq[Long]): Seq[(Seq[Long], String)] = {
    require(copies.nonEmpty, "the corpus has no re-submittable copies")
    val out = ArrayBuffer.empty[(Seq[Long], String)]
    var c = 0
    var f = 0
    var done = false
    while (!done) {
      val isBulk = out.size % cycle == cycle - 1
      val nCopies = if (isBulk) bulk / 5 else 1
      val nFresh = if (isBulk) bulk - nCopies else 1
      if (f + nFresh > fresh.size) done = true
      else {
        val ids = (c until c + nCopies).map(j => copies(j % copies.size)) ++
          fresh.slice(f, f + nFresh)
        out += ((ids, if (isBulk) "bulk" else "trickle"))
        c += nCopies
        f += nFresh
      }
    }
    out.take(out.size / cycle * cycle).toSeq
  }

  def queries: Seq[String] = batches.indices.flatMap(i =>
    Seq(name(i, "probe"), name(i, "append")))
  private def name(i: Int, call: String) = f"batch-$i%03d/$call"

  override def timed(op: Map[String, Any]): Boolean =
    op("name").toString.endsWith("/probe")

  private var docs: DataFrame = _
  private var docBytes = Map.empty[Long, Long]
  private var histBytes = 0L

  def prepare(): (Map[String, Double], Map[String, Map[String, Long]]) = {
    val (genS, rows) = seconds(Inputs.writeCorpus(spark, dir, nDocs, seed))
    val (loadS, _) = seconds {
      docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
      // ingested payload per doc: its text's UTF-8 bytes and its id
      docBytes = docs.select(col("doc_id"), octet_length(col("text")))
        .collect().map(r => r.getLong(0) -> (r.getInt(1) + 8L)).toMap
    }
    val pool = docs.filter(heldOut).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // a planted doc copies its predecessor unless that one is planted
    val copies = docs.filter(Inputs.planted(col("doc_id"), seed) &&
        col("doc_id") > 0 && !Inputs.planted(col("doc_id") - 1, seed))
      .select("doc_id").collect().map(_.getLong(0))
      .filter(d => !pool(d - 1)).sorted.toSeq
    batches = cut(copies, (pool -- copies).toSeq.sorted)
    histBytes = docBytes.collect { case (d, b) if !pool(d) => b }.sum
    val (buildS, _) = seconds(DedupIndex.build(docs.filter(!heldOut), table))
    (Map("gen_s" -> genS, "load_s" -> loadS, "index_build_s" -> buildS),
      sizes(rows, Tables.path(dir, _)))
  }

  /** Partitions the plan's index scans read, and the index's total. */
  private def partsTouched(plan: SparkPlan): (Int, Int) = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == table) => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val all = Option(new java.io.File(s"$warehouse/$table").listFiles)
      .map(_.count(_.getName.startsWith("pb="))).getOrElse(0)
    scans(plan).foldLeft((0, 0)) { case ((t, n), f) =>
      (t + f.selectedPartitions.partitionCount, n + all)
    }
  }

  private var nextId = 0
  /** Doc ids each batch's probe rejected. */
  private val rejected = scala.collection.mutable.Map.empty[Int, Set[Long]]

  /** Batch `i`'s probe (its rejections kept only when `admit`) or its
    * append of the docs the probe did not reject. */
  private def runCall(tr: Trace, i: Int, call: String,
      admit: Boolean): Map[String, Any] = {
    val (ids, kind) = batches(i)
    val id = nextId
    nextId += 1
    val batch = docs.filter(col("doc_id").isin(ids: _*))
    val admitted =
      if (call == "append") ids.filterNot(rejected(i)) else Seq.empty
    var touched = (0, 0)
    val start = tr.nowMs
    val res = try {
      Right(tr.operation(id, name(i, call)) {
        if (call == "probe") tr.span("ext.index_probe") {
          val df = tr.span("ext.build")(DedupIndex.probe(spark, table, batch, docs))
          val (r, c) = consume(spark, tr, df, collect_set(col("batch_id")))
          if (tr.enabled) touched = partsTouched(c.queryExecution.executedPlan)
          if (admit) rejected(i) = r.getSeq[Long](2).toSet
          fingerprint(r)
        } else {
          if (admitted.nonEmpty) tr.span("ext.index_append") {
            DedupIndex.append(docs.filter(col("doc_id").isin(admitted: _*)), table)
          }
          null
        }
      })
    } catch { case t: Throwable => Left(failure(t)) }
    val end = tr.nowMs
    isolate(spark)
    Map("id" -> id, "name" -> name(i, call), "kind" -> kind,
      "start" -> start, "end" -> end, "docs" -> ids.size,
      "ok" -> res.isRight, "error" -> res.left.toOption.orNull,
      "fp" -> res.toOption.orNull,
      "appended" -> admitted.size,
      "appended_bytes" -> admitted.map(docBytes).sum,
      "parts_touched" -> touched._1, "parts_total" -> touched._2)
  }

  /** Batch 0's probe on the real index, twice (a probe is still
    * getting faster after its first run). Nothing is appended, so the
    * timed probe of batch 0 must give the same result. */
  def warmup(tr: Trace): Seq[Map[String, Any]] =
    Seq.fill(2)(runCall(tr, 0, "probe", admit = false))

  private var next = 0
  private var appendedBytes = 0L

  def window(tr: Trace, seconds: Double): Seq[Map[String, Any]] = {
    val out = ArrayBuffer.empty[Map[String, Any]]
    val deadline = tr.nowMs + seconds * 1000
    while (tr.nowMs < deadline && next < batches.size) {
      (next until next + cycle).foreach { i =>
        out += runCall(tr, i, "probe", admit = true)
        val a = runCall(tr, i, "append", admit = true)
        appendedBytes += a("appended_bytes").asInstanceOf[Long]
        out += a
      }
      next += cycle
    }
    out.toSeq
  }

  private def tableFingerprint(): Map[String, Any] =
    fingerprintOf(spark.table(table))

  /** Compact the index (timed), checking that compaction kept its
    * content, then measure it on disk. */
  override def finish(tr: Trace): Map[String, Any] = {
    val before = tableFingerprint()
    val id = nextId
    nextId += 1
    val start = tr.nowMs
    tr.operation(id, "compact") {
      tr.span("ext.index_compact")(DedupIndex.compact(spark, table))
    }
    val end = tr.nowMs
    Map("compact_s" -> (end - start) / 1000,
      "compact_kept_content" -> (before == tableFingerprint()),
      "index_bytes" -> Inputs.bytesUnder(s"$warehouse/$table"),
      "index_files" -> Inputs.filesUnder(s"$warehouse/$table"),
      "input_bytes" -> (histBytes + appendedBytes))
  }
}
