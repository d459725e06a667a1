package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.graftshim.GraftShim

/** One benchmark run inside one JVM: set up, warm up, measure, write
  * the raw record (every operation, span, job, stage and task) as JSON
  * for `perfbench/run.py` to turn into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --out <file>
  *
  * `--work` is a directory this run owns; inputs, the warehouse and
  * Spark's local dirs go there. With `--trace 1` the run measures an
  * untraced window and then a traced one of the same length.
  *
  * `perfbench.Main --fingerprints <dir> --cores <n> --work <dir> --out
  * <file>` instead writes the fingerprint of every parquet result
  * `graft.Verify` left under `<dir>` (see `perfbench/pin.py`). */
object Main {

  /** sql-star: TPC-DS, ImpalaKit and retail queries of 4-6-way star
    * joins that run in well under a second here, so a window holds
    * enough executions for a tail percentile; planning and scheduling,
    * not the scans, are their cost. */
  val sqlStarQueries: Seq[String] = Seq(
    "tpcds_q3", "tpcds_q7", "tpcds_q19", "tpcds_q62",
    "tpcds_q96", "impala_q19", "impala_q55", "rq5_demographic_buckets",
    "rq26_basket_size")

  /** corpus-dedup: shingle/signature shuffles, connected-component and
    * admission loops, codegen vector expressions, top-k aggregation. */
  val corpusDedupQueries: Seq[String] = Seq(
    "dd03_minhash_lsh", "dd10_dedup_clusters_lsh", "dd15_substring_dedup",
    "dd18_sequential_admission", "dd19_best_rep_dedup", "ss02_ann_lsh",
    "ss03_ann_ivf", "ss06_knn_graph", "tx10_tfidf_terms",
    "tx23_cross_source_neardup")

  val starFactRows = 200000L
  val corpusDocs = 1000L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (opt.contains("fingerprints")) return pinning(opt)
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work")).getAbsolutePath

    val t0 = System.currentTimeMillis()
    val spark = Session.start(cores, work)
    val sessionS = (System.currentTimeMillis() - t0) / 1e3
    val inputs = s"$work/inputs"
    val w: Workload = name match {
      case "sql-star" =>
        require(sys.env.get("SPARK_GRAFT_RETAIL_DIR").contains(inputs),
          s"sql-star reads its star schema from SPARK_GRAFT_RETAIL_DIR=$inputs")
        new SqlStar(spark, seed, starFactRows, sqlStarQueries, inputs)
      case "corpus-dedup" =>
        new CorpusDedup(spark, seed, corpusDocs, corpusDedupQueries, inputs)
      case "index-ingest" =>
        new IndexIngest(spark, seed, corpusDocs, inputs, s"$work/warehouse")
      case other => sys.error(s"unknown workload $other")
    }

    val (prep, sizes) = w.prepare()
    val off = new Trace(spark, enabled = false)
    val warmStart = off.nowMs
    val warm = w.warmup(off)
    val warmupS = (off.nowMs - warmStart) / 1000

    val heap = new HeapPeak
    def measure(tr: Trace): Map[String, Any] = {
      heap.arm()
      val start = tr.nowMs
      val ops = w.window(tr, seconds)
      val end = tr.nowMs
      Map("traced" -> tr.enabled, "start" -> start, "end" -> end,
        "heap_peak_mb" -> heap.disarm(), "ops" -> ops,
        "latency_ops" -> ops.filter(w.timed).map(_("id")))
    }
    val untraced = measure(off)
    val windows = if (!traced) Seq(untraced) else {
      val listener = new TaskListener
      GraftShim.drainListenerBus(spark, 60000)
      spark.sparkContext.addSparkListener(listener)
      val tr = new Trace(spark, enabled = true)
      val m = measure(tr)
      val fin = w.finish(tr)
      GraftShim.drainListenerBus(spark, 60000)
      spark.sparkContext.removeSparkListener(listener)
      Seq(untraced, m ++ Map("spans" -> tr.spans.toSeq,
        "jobs" -> listener.jobs.toSeq, "stages" -> listener.stages.toSeq,
        "tasks" -> listener.tasks.toSeq, "finish" -> fin))
    }
    val finish =
      if (traced) windows.last("finish") else w.finish(off)
    heap.close()

    val record = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "seconds" -> seconds, "spark_version" -> spark.version,
      "confs" -> (Session.planConfs.map(_._1) :+ "spark.sql.shuffle.partitions")
        .map(k => k -> spark.conf.get(k, "<unset>")).toMap,
      "queries" -> w.queries, "inputs" -> sizes,
      "setup" -> (prep ++ Map("session_s" -> sessionS, "warmup_s" -> warmupS,
        "total_s" -> (untraced("start").asInstanceOf[Double] - t0) / 1e3)),
      "warmup" -> warm, "windows" -> windows, "finish" -> finish)
    write(opt("out"), record)
    spark.stop()
  }

  private def write(path: String, value: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(path), value)

  private def pinning(opt: Map[String, String]): Unit = {
    val spark = Session.start(opt("cores").toInt, opt("work"))
    val results = new File(opt("fingerprints")).listFiles
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
    write(opt("out"), results.map(d =>
      d.getName -> Workload.fingerprintOf(spark.read.parquet(d.getPath))).toMap)
    spark.stop()
  }
}
