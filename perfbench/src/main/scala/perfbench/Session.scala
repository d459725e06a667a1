package perfbench

import org.apache.spark.sql.SparkSession

/** The session shape `graft.Bench` times: `local[cores]`, one shuffle
  * partition per core, the graft planner extensions and Bench's three
  * plan-shaping confs (same environment overrides, same defaults).
  * Everything the session writes (Spark local dirs, the warehouse that
  * holds the index tables) lands under the run's own work directory. */
object Session {

  /** Plan-shaping confs, exactly as Bench sets them. */
  val planConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
      sys.env.getOrElse("SPARK_GRAFT_RUNTIME_BLOOM", "false"),
    "spark.sql.join.preferSortMergeJoin" ->
      sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"),
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_MAP", "128m"))

  def start(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the traced run's listener must see every task: a full event
      // queue drops events instead of blocking
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
    planConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
