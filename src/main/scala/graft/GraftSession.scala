package graft

import org.apache.spark.sql.SparkSession

/** One-stop SparkSession construction for the library — the confs every
  * graft operator depends on, so a user switching from the reference gets a
  * working session in one call instead of rediscovering each knob:
  *
  *  - `nanosAsLong`: sources that emit parquet TIMESTAMP(NANOS) are only
  *    readable in Spark 4 with this conf (as a nanos LONG); inert for
  *    micros/NTZ encodings. Event-time math is schema-adaptive either way
  *    ([[graft.functions.EventTime]]), so the engine tracks whatever
  *    encoding the producer ships;
  *  - `chunkBase64String=false`: un-MIME-chunked base64, required for
  *    digest parity with external engines;
  *  - UTC session timezone: date/timestamp arithmetic independent of the
  *    host zone;
  *  - `GraftExtensions`: registers the native codegen'd vector kernels
  *    (`graft_dot`) with the function registry;
  *  - RocksDB state store + shell-free local-FS overrides: required by the
  *    `transformWithState` streaming operators; inert for batch jobs (see
  *    [[graft.streaming.StreamingCdc.requiredConfs]] /
  *    [[graft.hadoop.ShellFreeLocalFileSystem]]).
  *
  * On a real cluster, pass the same map via `--conf`; [[builder]] is for
  * embedded/driver-side construction.
  */
object GraftSession {

  /** Everything a graft session needs, as a conf map (for spark-submit or
    * session builders owned by the caller).
    */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.chunkBase64String.enabled" -> "false",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions") ++
    graft.streaming.StreamingCdc.requiredConfs ++
    graft.streaming.StreamingCdc.shellFreeLocalFs

  /** A builder pre-loaded with [[requiredConfs]]. `shufflePartitions`
    * should track the job's actual parallelism (executors × cores on a
    * cluster; the local thread count here), not Spark's 200 default.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    requiredConfs.foldLeft(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local session sized by thread count (driver mains, tests, notebooks). */
  def local(cores: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    attach(spark)
    spark
  }

  /** Activate every artifact the session's persisted activation registry
    * names ([[graft.ops.ActivationStore.RegistryConfKey]] — set it in
    * spark-defaults / the builder config and manifests, Bloom indexes
    * and the sketch catalog prune with zero per-session code). No-op
    * when the conf is unset; a registered-but-unreadable artifact logs
    * and degrades, never fails session construction. Sessions built
    * outside [[local]] (spark-submit, notebooks handed a session) call
    * this once after construction. It first installs any graft function
    * the session lacks ([[graft.functions.GraftFunctions.register]]), so
    * a session built without `GraftExtensions` still resolves them; on a
    * session that has the extension that step changes nothing.
    */
  def attach(spark: SparkSession): Option[graft.ops.ActivationStore.LoadReport] = {
    graft.functions.GraftFunctions.register(spark)
    graft.ops.ActivationStore.autoLoad(spark)
  }
}
