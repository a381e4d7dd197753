package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every entry point (Verify, Bench, tests)
  * builds its session here so AQE/CBO and oracle-parity settings are
  * uniform.
  *
  * Scale notes (100 TB design intent):
  *  - AQE on: runtime coalescing + skew-join splitting are the Spark
  *    analog of the reference's measure-then-plan optimizer
  *    (SURVEY.md §4.2 — DREAM runs candidate subqueries and costs the
  *    measured sizes; AQE re-plans on the measured shuffle stats).
  *  - CBO + join reorder on: subsumes DREAM's plan enumeration
  *    (Optimizer.cpp:63-103) — SURVEY.md §4.4.
  *  - shuffle.partitions is sized to the local core count here; on a
  *    real cluster it should be ~2-3× total cores and AQE coalesces
  *    the rest.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Streaming state-store provider: the HDFS-backed default keeps
    * every key in executor heap (fine locally and for the spec
    * fixtures); `SPARK_GRAFT_STATESTORE=rocksdb` switches to the
    * RocksDB provider, whose off-heap + disk-backed state is the
    * deployment choice for stateful streams whose live-key set
    * outgrows the heap. Config-only by design: no operator depends on
    * the provider's semantics.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def stateStoreProvider: Option[String] =
    sys.env.get("SPARK_GRAFT_STATESTORE").map {
      case "rocksdb" => RocksDbProvider
      case other => other // a full provider class name passes through
    }

  /** The JDK `HttpServer` switch that sets TCP_NODELAY on every socket
    * it accepts.
    */
  val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** Turn on TCP_NODELAY for the JVM's `HttpServer`s, unless the JVM
    * already carries an explicit value (a deployer's `-D` wins). The
    * JDK reads the property once, when the first `HttpServer` of the
    * JVM starts, so this must run before that: [[local]] calls it, and
    * every entry point builds its session there before serving
    * anything. Without it a served read's body waits for the client's
    * delayed ACK of the headers (Nagle), about 40 ms a response; see
    * `bgp.SparqlServer.serve`.
    */
  def tcpNoDelay(): Unit =
    if (System.getProperty(NoDelayProperty) == null)
      System.setProperty(NoDelayProperty, "true")

  def local(nCpus: String = cpus): SparkSession = {
    tcpNoDelay()
    val builder0 = SparkSession.builder()
      .master(s"local[$nCpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", nCpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed tables here are deliberate secondary layouts (s-bucketed
      // triples, id-bucketed dict); auto-disabling bucketed scans would
      // also forfeit bucket-filter pruning (constant-subject patterns)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // the primary triple layout writes exactly one sorted file per
      // (partition, bucket) — exposing the per-bucket sort order lets
      // the subject-join merge chain skip its sorts entirely (the scan
      // is already HashPartitioning(s)+sorted; see
      // TripleStore.writePartitionedBucketed)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no ns type, so
      // read as Long and let Tables.t normalize to a µs timestamp.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive (isAdjustedToUTC=false) parquet timestamps read as plain
      // TIMESTAMP, not TIMESTAMP_NTZ: the oracle (DuckDB) treats naive
      // values as-is and the session tz is pinned UTC above, so both
      // engines see identical epoch micros — while NTZ would reject
      // unix_micros() and streaming watermarks outright
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    val builder = stateStoreProvider.foldLeft(builder0)((b, p) =>
      b.config("spark.sql.streaming.stateStore.providerClass", p))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
