package graft.bgp

import graft.scale.{DeltaLog, GuardedBroadcast, VersionedRoot}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** RDF triple store over Spark, vertically partitioned by predicate.
  *
  * The reference keeps its triples inside the external RDF-3X binary
  * (SURVEY.md §1.1) with dictionary-encoded uint64 IDs and decodes
  * lexical values only at the result edge (Proxy.c:211-224). Here the
  * store is a map `predicate -> DataFrame(s, o)` — the classic
  * vertical-partitioning layout for SPARQL-on-relational. A pattern
  * with a constant predicate (every pattern in the reference's fixture
  * queries) touches exactly one slice, which is a narrow 2-column
  * projection of one base table: Catalyst prunes the parquet scan to
  * those columns, and at 100 TB the layout is "parquet partitioned by
  * p" — pattern dispatch IS partition pruning. No monolithic union, no
  * store-wide distinct (RDF set semantics are enforced per slice,
  * where the distinct is narrow and cheap).
  *
  *  - string form: `slices(p): (s, o: String)`;
  *  - encoded form: same slices with xxhash64 IDs + `dict(id, value)`
  *    for result-edge decode (reference parity; ~8× narrower shuffle
  *    rows). xxhash64 is deterministic and embarrassingly parallel —
  *    no global sort or zipWithIndex bottleneck at load, unlike a
  *    dense-ID dictionary build.
  */
final case class TripleStore(
    slices: Map[String, DataFrame],
    dict: Option[DataFrame],
    sBucketed: Option[DataFrame] = None,
    // the OPS-permutation secondary (the object-first index role of
    // the reference's RDF-3X backend — databases/RDFDB, Main.c:121-123
    // — whose permutation set serves constant-object lookups): the
    // same (s, o, p) rows partitioned by p but bucketed + sorted by
    // OBJECT, so a constant-object probe (?s nationkey <nation:7>,
    // every rdf:type restriction) reads one bucket of one partition
    // instead of scanning the whole predicate slice. `p` is ALWAYS
    // the string name (dispatch by name on both encodings).
    // Like sBucketed, this is a persisted-layout handle: every
    // mutation drops it (the mutated slices are the truth).
    oBucketed: Option[DataFrame] = None,
    // named graphs as a quad relation (g, s, p, o): g/s/o in store form
    // (strings, or xxhash64 ids on the encoded store), p ALWAYS the
    // string predicate name (dispatch is by name). On disk the layout
    // analog is parquet partitioned by (g, p) — a constant graph term
    // plus constant predicate is double partition pruning.
    quads: Option[DataFrame] = None,
    // ids are DENSE sequential (encodeSequential) rather than xxhash64
    // of the value: the >10⁹-term regime's escape from the birthday
    // bound. The planner then resolves each query constant with one
    // dict probe instead of hashing it (RDF-3X's discipline,
    // Proxy.c:211-224).
    sequential: Boolean = false,
    // where this store stands in a versioned dataset on disk, when
    // fromDatasetParquet loaded it or writeBackDelta advanced it: lets
    // the next write-back advance it by the batch it appends instead of
    // reloading the dataset
    private[bgp] val standing: Option[TripleStore.Standing] = None) {

  /** Plan-time resolution cache for SEQUENTIAL-encoding query
    * constants, shared across every planner pass over THIS store
    * instance. Mutations rebuild the store through `copy`, so a grown
    * dictionary is never read through a stale entry. Primed in one
    * batched dict scan per query (`BgpPlanner.primeConsts`): a
    * 1000-constant VALUES/IN resolves with ONE Spark job instead of
    * 1000 single-row probe jobs.
    */
  private[bgp] val constCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def encoded: Boolean = dict.isDefined

  /** [[standing]] while it still describes this store: a store derived
    * in memory from a loaded one (an applied op not yet written back)
    * carries the field over through `copy`, but not the relations it
    * was built with.
    */
  private[bgp] def stands: Option[TripleStore.Standing] =
    standing.filter(_.describes(this))

  /** Union view `(s, p, o)` for variable-predicate patterns only —
    * never materialized unless such a pattern exists.
    */
  def unionView: DataFrame = {
    val pCol: String => Column =
      if (!encoded) { p => lit(p) }
      else if (!sequential) { p => xxhash64(lit(p)) }
      else {
        // dense ids are not name hashes: resolve the predicate
        // inventory's ids in ONE bounded dict scan (schema-sized — the
        // same contract as the inventory itself); an unlisted name
        // gets the never-matching id 0
        val names = slices.keySet.toSeq
        val m = dict.get.filter(col("value").isin(names: _*))
          .select(col("value"), col("id")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        p => lit(m.getOrElse(p, 0L))
      }
    slices.map { case (p, df) =>
      df.select(col("s"), pCol(p).as("p"), col("o"))
    }.reduce(_ unionByName _)
  }

  /** The scan a variable-predicate pattern dispatches to: the
    * s-bucketed secondary layout when materialized (the SOP-index
    * analog of RDF-3X's permutation indexes — a constant subject
    * prunes to one bucket instead of unioning every predicate slice),
    * else the union view.
    */
  def variableView: DataFrame = sBucketed.getOrElse(unionView)

  /** The OPS-layout view of one predicate slice, when the secondary is
    * materialized AND the predicate exists (an unknown predicate must
    * keep the empty-slice short-circuit, so absence returns None).
    */
  def oSlice(p: String): Option[DataFrame] =
    if (slices.contains(p))
      oBucketed.map(_.filter(col("p") === p).select(col("s"), col("o")))
    else None
}

object TripleStore {

  /** Derive a string-form triple store from the driver's star schema.
    * Edge inventory mirrors an RDF view of TPC-H: entity URIs like
    * `customer:17`, plus value literals. Set semantics via per-slice
    * distinct().
    */
  def fromStarSchema(spark: SparkSession, dir: String): TripleStore = {
    import graft.Tables.t
    def uri(prefix: String, c: Column) =
      concat(lit(prefix), lit(":"), c.cast("string"))

    val cust = t(spark, dir, "customer")
    val sup = t(spark, dir, "supplier")
    val nat = t(spark, dir, "nation")
    val reg = t(spark, dir, "region")
    val ord = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")

    def so(df: DataFrame, s: Column, o: Column): DataFrame =
      df.select(s.as("s"), o.cast("string").as("o"))

    // third element: does the derivation already guarantee (s,o)
    // uniqueness? True for every slice projected from a keyed table
    // (one row per key ⇒ unique s; table-prefixed URIs keep unions
    // disjoint); only the lineitem-derived edges can repeat, so only
    // they pay a dedup shuffle.
    val parts: Seq[(String, DataFrame)] = Seq(
      "rdf:type" -> so(cust, uri("customer", col("c_custkey")), lit("Customer")),
      "nationkey" -> so(cust, uri("customer", col("c_custkey")), uri("nation", col("c_nationkey"))),
      "mktsegment" -> so(cust, uri("customer", col("c_custkey")), col("c_mktsegment")),
      "name" -> so(cust, uri("customer", col("c_custkey")), col("c_name")),
      "rdf:type" -> so(sup, uri("supplier", col("s_suppkey")), lit("Supplier")),
      "nationkey" -> so(sup, uri("supplier", col("s_suppkey")), uri("nation", col("s_nationkey"))),
      "name" -> so(sup, uri("supplier", col("s_suppkey")), col("s_name")),
      "rdf:type" -> so(nat, uri("nation", col("n_nationkey")), lit("Nation")),
      "name" -> so(nat, uri("nation", col("n_nationkey")), col("n_name")),
      "regionkey" -> so(nat, uri("nation", col("n_nationkey")), uri("region", col("n_regionkey"))),
      "name" -> so(reg, uri("region", col("r_regionkey")), col("r_name")),
      "rdf:type" -> so(ord, uri("order", col("o_orderkey")), lit("Order")),
      "custkey" -> so(ord, uri("order", col("o_orderkey")), uri("customer", col("o_custkey"))),
      "status" -> so(ord, uri("order", col("o_orderkey")), col("o_orderstatus")),
      "contains" -> so(li, uri("order", col("l_orderkey")), uri("part", col("l_partkey"))),
      "suppliedby" -> so(li, uri("order", col("l_orderkey")), uri("supplier", col("l_suppkey"))),
      "supplies" -> so(li, uri("supplier", col("l_suppkey")), uri("part", col("l_partkey"))),
      // temporal successor edges: each order → the customer's next
      // order by date (the one predicate with genuine multi-hop chains,
      // so p+/p*/p{n,m} path queries traverse something real)
      "nextorder" -> {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        so(ord.withColumn("__nk", lead(col("o_orderkey"), 1).over(w))
            .filter(col("__nk").isNotNull),
          uri("order", col("o_orderkey")), uri("order", col("__nk")))
      })

    val needsDedup = Set("contains", "suppliedby", "supplies")
    val slices = parts.groupBy(_._1).map { case (p, xs) =>
      val u = xs.map(_._2).reduce(_ unionByName _)
      p -> (if (needsDedup(p)) u.distinct() else u)
    }
    TripleStore(slices, None)
  }

  /** Hard cap on the predicate inventory: vertical partitioning
    * assumes predicates are schema-sized, not data-sized. Past the cap
    * the build fails loudly instead of collecting an unbounded set to
    * the driver.
    */
  val MaxPredicates = 10000

  /** Build a store from a generic `(s, p, o)` string DataFrame (e.g.
    * an N-Triples load). The predicate inventory is schema-sized, not
    * data-sized, so the distinct-predicate collect is a metadata
    * operation — the same assumption vertical partitioning always
    * makes, enforced by [[MaxPredicates]]: the collect is limit-bounded
    * and over-cap input is an error, never an unbounded driver set.
    *
    * The source is persisted once per distinct plan by
    * [[GuardedBroadcast.pin]]: rebuilding the same view (every WITH/USING
    * update op scopes one) reuses the handle, and eviction unpersists.
    * A file-backed plan snapshots its file listing, so a path re-read
    * after an overwrite is a new key and a fresh scan.
    */
  def fromTriples(df0: DataFrame): TripleStore = {
    // persist the source ONCE per distinct plan (GuardedBroadcast.pin):
    // every slice below derives by filter+distinct from it, so without
    // the cache a k-slice query re-scans (and for an N-Triples load,
    // re-parses) the raw relation k times per action. MEMORY_AND_DISK —
    // the predicate-inventory collect right after materializes it.
    // Stores past fixture/load scale belong on the persisted layouts
    // ([[writePartitioned]] / [[fromPartitionedParquet]]), where slice
    // dispatch is partition pruning and nothing needs executor memory.
    val df = GuardedBroadcast.pin(df0)
    val preds = df.select(col("p")).distinct().limit(MaxPredicates + 1)
      .collect().map(_.getString(0))
    require(preds.length <= MaxPredicates,
      s"more than $MaxPredicates distinct predicates: this data is not " +
        "vertically partitionable by predicate — use the p-partitioned " +
        "parquet layout and a predicate column instead")
    val slices = preds.map { p =>
      p -> df.filter(col("p") === p).select(col("s"), col("o")).distinct()
    }.toMap
    TripleStore(slices, None)
  }

  /** Persist a store as parquet partitioned by predicate — the on-disk
    * layout of the vertical partitioning: one directory per `p=...`, so
    * a constant-predicate pattern scan is answered by partition pruning
    * (see [[fromPartitionedParquet]]). Partition directories keep the
    * predicate's STRING name (the slice map key) on every store form;
    * s/o are lexical strings, or ids on an encoded store.
    */
  def writePartitioned(store: TripleStore, path: String): Unit =
    store.slices.map { case (p, df) =>
      df.select(col("s"), lit(p).as("p"), col("o"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").partitionBy("p").parquet(path)

  /** Persist a store's whole DATASET: the default graph under
    * `<path>/default` (p-partitioned — [[writePartitioned]]) and the
    * named-graph quads under `<path>/quads`, parquet partitioned by
    * `(g, p)` — the on-disk analog the quads relation's scaladoc
    * promises: a GRAPH block with a constant graph term and constant
    * predicate is DOUBLE partition pruning (one `g=...`/`p=...`
    * directory), a variable-predicate dump of one graph prunes to its
    * `g=...` subtree, and graph management ops (DROP/ADD/COPY/MOVE)
    * move directory subtrees, not rows.
    */
  def writeDataset(store: TripleStore, path: String): Unit = {
    // encoded stores persist in ID SPACE: slices keep the predicate's
    // STRING name as the partition key (dispatch stays name-keyed and
    // pruned) while s/o carry BIGINT ids, and the dictionary lands
    // beside them under <path>/dict — the >10⁹-term regime's layout,
    // where a full string rewrite per op would be fatal. The id regime
    // (hash vs sequential) is re-detected from the dict on reload
    // ([[isSequentialDict]]), so no extra marker file is needed. A
    // store with no slices writes no `default` tree (a version flip
    // that carries every slice).
    if (store.slices.nonEmpty) writePartitioned(store, s"$path/default")
    store.dict.foreach(_.select(DictLog.cols.map(col): _*)
      .write.mode("overwrite").parquet(s"$path/$DictUnit"))
    // an all-empty quads relation writes NO subtree (a partitioned
    // parquet dir with zero partition dirs has no inferable schema on
    // reload; an empty graph set and an absent one are the same thing)
    store.quads.filter(q => !q.isEmpty).foreach(q =>
      q.select(col("s"), col("o"), col("g"), col("p"))
        .write.mode("overwrite").partitionBy("g", "p")
        .parquet(s"$path/$QuadsUnit"))
  }

  /** A dataset's units, the grain at which a version flip rewrites or
    * carries: one per `default/p=<pred>` partition (the predicate
    * Hive-escaped, as the partitioned write names the directory), the
    * `quads` tree and the `dict` directory.
    */
  private val QuadsUnit = "quads"
  private val DictUnit = "dict"
  private val SlicePrefix = "default/p="
  private def sliceUnit(p: String): String = SlicePrefix +
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(p)

  /** Row-grain delta of ONE update op against the store it was applied
    * to, in store (string) form. `default` rows are `(p, s, o, del)`,
    * `quads` rows `(g, p, s, o, del)` — `del = true` tombstones,
    * `del = false` inserts; within one op an insert beats a tombstone
    * of the same row (SPARQL §3.1.3 delete-then-insert). `structural`
    * marks ops whose effect is not row-grain (CLEAR / DROP / LOAD /
    * graph management): the write-back checkpoints a full new dataset
    * version for those instead of appending a delta batch.
    */
  final case class OpDelta(
      default: Option[DataFrame],
      quads: Option[DataFrame],
      structural: Boolean,
      // dictionary growth of this op (encoded stores): genuinely-new
      // (id, value, dt, lang) rows — dict rows are append-only, so the
      // delta log needs no tombstones for them
      dictRows: Option[DataFrame] = None)

  /** Delta batches a dataset version absorbs before the write-back
    * compacts them into a fresh version (the lakehouse log-then-compact
    * move; threshold keeps read-time merge cost and delta-file counts
    * bounded). The compaction rewrites only the units the log touched
    * and carries the rest by reference ([[writeDatasetVersioned]]), so
    * its cost follows the touched slices, not the dataset.
    */
  val CompactDeltaBatches = 16

  /** Versions retained after a pointer flip: the NEW version plus one
    * predecessor, so readers that loaded before the flip finish their
    * scans on intact files (one full compaction cycle of slack —
    * CompactDeltaBatches row-grain ops, or one structural op). An
    * older version that a retained version's manifest still names is
    * kept as a holder of just the named units: storage, not a version
    * ([[listVersions]] leaves it out, and a time-travel read of it
    * fails).
    */
  val KeepVersions = 2

  private def sparkOf(st: TripleStore): SparkSession =
    st.slices.values.headOption.orElse(st.quads).orElse(st.dict)
      .map(_.sparkSession)
      .getOrElse(throw new IllegalArgumentException("empty store"))

  /** The dataset's current version number, if `path` is a versioned
    * root (has a `VERSION` pointer file).
    */
  def currentVersion(spark: SparkSession, path: String): Option[Int] =
    VersionedRoot.currentVersion(spark, path)

  /** Versions of the dataset at `path` still on disk, ascending —
    * the current version plus up to [[KeepVersions]]-1 retained
    * predecessors. Each is readable via the version-pinned
    * [[fromDatasetParquet]] until [[writeDatasetVersioned]]
    * garbage-collects it. One filesystem listing; no data read.
    */
  def listVersions(spark: SparkSession, path: String): Seq[Int] =
    VersionedRoot.listVersions(spark, path)

  /** Resolve the CURRENT version root of the dataset at `path`: the
    * `v<n>` subdirectory the `VERSION` pointer names, or `path` itself
    * for a legacy (unversioned) [[writeDataset]] layout. Everything
    * under one version root is immutable-except-append (delta batches
    * only ever ADD `seq=` directories), so a store loaded from a
    * resolved root keeps reading intact files across later write-backs
    * until its version is garbage-collected ([[KeepVersions]]).
    */
  def datasetRoot(spark: SparkSession, path: String): String =
    currentVersion(spark, path).map(n => s"$path/v$n").getOrElse(path)

  /** The version a version root names (`<path>/v<n>`), or None for a
    * legacy unversioned root.
    */
  private[bgp] def versionOf(root: String): Option[Int] =
    Some(new org.apache.hadoop.fs.Path(root).getName)
      .filter(_.startsWith("v")).flatMap(_.drop(1).toIntOption)

  /** What a version flip wrote: the version, how many units it
    * rewrote into it and how many its manifest carries.
    */
  final case class Flip(version: Int, rewrote: Int, carried: Int)

  /** Write `store` as the NEXT version of the dataset at `path` and flip
    * the `VERSION` pointer — the one flip of bootstrap, structural ops
    * and compaction, claimed, flipped and garbage-collected past
    * [[KeepVersions]] by [[graft.scale.VersionedRoot]].
    *
    * Only the units whose relation is no longer the current version's
    * own base scan are rewritten, into `<path>/v<n>` in the
    * [[writeDataset]] layout (one `partitionBy("p")` write over the
    * rewritten slices, plus `quads`/`dict` when touched). Every other
    * unit is carried by reference: the version's manifest maps it to
    * the `v<m>` directory that holds it. A store that does not stand
    * on the current version (bootstrap, a store built in memory, one
    * loaded from an older version or from the legacy unversioned
    * layout) has no base, and everything is rewritten.
    *
    * Readers pinned to the previous version finish undisturbed; a
    * legacy unversioned layout at `path` is retired (its dirs deleted)
    * once the SECOND version lands — until then it plays the role of
    * the previous version.
    */
  def writeDatasetVersioned(store: TripleStore, path: String): Flip = {
    val spark = sparkOf(store)
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    require(store.slices.nonEmpty, s"a dataset needs a predicate slice: $path")
    val n = currentVersion(spark, path).map(_ + 1).getOrElse(0)
    // multi-writer guard (a batch job beside a served endpoint is the
    // normal lakehouse shape): the losing JVM fails loudly at the claim
    // instead of interleaving files with the winner, and at the flip
    // instead of orphaning the winner's version
    VersionedRoot.claimVersion(spark, path, n)
    val carried = carriedUnits(store, fs, path, n)
    val fresh = store.copy(
      slices = store.slices.filter { case (p, _) => !carried.contains(sliceUnit(p)) },
      quads = store.quads.filterNot(_ => carried.contains(QuadsUnit)),
      dict = store.dict.filterNot(_ => carried.contains(DictUnit)))
    val root = s"$path/v$n"
    writeDataset(fresh, root)
    VersionedRoot.writeManifest(fs, root, carried)
    VersionedRoot.flipPointer(spark, path, n, KeepVersions)
    if (n >= KeepVersions - 1 && n >= 1)
      Seq("default", QuadsUnit, "delta", DictUnit).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
    Flip(n, fresh.slices.size + fresh.quads.size + fresh.dict.size, carried.size)
  }

  /** The units of `store` that version `n` of the dataset at `path` can
    * carry, each mapped to the version holding it: those whose relation
    * is still the base scan of version `n - 1`, when `store` stands on
    * it. A unit version `n - 1` itself carries keeps its holder, so
    * manifests never chain.
    */
  private def carriedUnits(store: TripleStore, fs: org.apache.hadoop.fs.FileSystem,
      path: String, n: Int): Map[String, Int] =
    store.standing.filter(s => n >= 1 && s.root == s"$path/v${n - 1}")
      .fold(Map.empty[String, Int]) { s =>
        def same(a: Option[DataFrame], b: Option[DataFrame]): Boolean =
          a.exists(x => b.exists(_ eq x))
        val units = store.slices.collect {
          case (p, df) if same(Some(df), s.base.slices.get(p)) => sliceUnit(p)
        } ++ Option.when(same(store.quads, s.base.quads))(QuadsUnit) ++
          Option.when(same(store.dict, s.base.dict))(DictUnit)
        val held = VersionedRoot.readManifest(fs, s.root)
        units.map(u => u -> held.getOrElse(u, n - 1)).toMap
      }

  /** Write one delta batch of log `part` as `delta/<part>/seq=<seq>`
    * under version root `root`, committed by [[graft.scale.DeltaLog.commit]].
    * Either way the batch is ONE parquet file — deltas are op-grain (a
    * protocol update's rows), so a multi-task fan-out would only pad
    * the log with empty part files.
    *
    *  - `Left((rows, schema))`: a batch already collected to the driver
    *    ([[collectHeld]]) is written by the driver itself through
    *    Spark's own parquet write support ([[writeParquetOnDriver]]),
    *    so its footer matches a file a Spark job writes — and no job
    *    runs.
    *  - `Right(df)`: a batch too large to hold on the driver is written
    *    by a Spark job (`coalesce(1)`).
    */
  private def writeDeltaBatch(spark: SparkSession,
      batch: Either[(Seq[Row], StructType), DataFrame], root: String,
      part: LogPart, seq: Int, fs: org.apache.hadoop.fs.FileSystem): Unit =
    DeltaLog.commit(fs, root, part.name, seq) { tmp =>
      batch match {
        case Left((rows, schema)) => writeParquetOnDriver(spark, rows, schema, tmp)
        case Right(df) => df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      }
    }

  /** Write `rows` (external `Row`s of `schema`) as one parquet file
    * under the directory `dir`, on the driver: the output writer Spark's
    * parquet source prepares for its tasks (`ParquetUtils.prepareWrite`
    * with the session's SQL conf — schema conversion, codec, footer
    * metadata), driven here for a single task. Columns are written
    * nullable, as a Spark job writes them.
    */
  private def writeParquetOnDriver(spark: SparkSession, rows: Seq[Row],
      schema: StructType, dir: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val conf = spark.sessionState.conf
    val written = StructType(schema.map(_.copy(nullable = true)))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(conf, job, written,
      new ParquetOptions(Map.empty[String, String], conf))
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val file = new org.apache.hadoop.fs.Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(written)
    val writer = factory.newInstance(file.toString, written, ctx)
    try rows.foreach(r => writer.write(
      toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    finally writer.close()
  }

  /** The weight of a delta row of batch `seq`: `seq * 2`, plus 1 for an
    * insert. A key's largest weight is odd exactly when the last batch
    * touching it leaves it present, and within one batch an insert
    * beats a tombstone of the same row (SPARQL §3.1.3
    * delete-then-insert). Every load and every advance weighs rows with
    * this one expression.
    */
  private def deltaWeight(seq: Column, del: Column): Column =
    seq.cast("long") * 2 + when(!del, 1).otherwise(0)

  /** One of a version's three delta logs: its directory under `delta/`
    * and the columns of its batches. Default and quad rows end in the
    * tombstone flag `del` and are weighed ([[deltaWeight]]); dict rows
    * only ever append. [[LogParts]] lists them in write order: an op's
    * dict rows land first, so a torn write can only leave extra
    * vocabulary, never dangling ids.
    */
  private[bgp] final case class LogPart(name: String, cols: Seq[String]) {
    def weighed: Boolean = cols.last == "del"
    def keys: Seq[String] = if (weighed) cols.init else cols
    /** `rows` as the log holds them: the batch columns, then the weight
      * `__w` of batch `seq` when weighed.
      */
    def held(rows: DataFrame, seq: Column): DataFrame =
      rows.select(cols.map(col) ++
        (if (weighed) Seq(deltaWeight(seq, col("del")).as("__w")) else Nil): _*)
  }
  private val DictLog = LogPart("dict", Seq("id", "value", "dt", "lang"))
  private val DefaultLog = LogPart("default", Seq("p", "s", "o", "del"))
  private val QuadLog = LogPart("quads", Seq("g", "p", "s", "o", "del"))
  private val LogParts = Seq(DictLog, DefaultLog, QuadLog)

  /** A version's delta log held on the driver: for each weighed log,
    * the latest weight of every key it touches (default keys `(p, s,
    * o)`, quad keys `(g, p, s, o)`); the dict rows it appended; each
    * log's batch schema; and its size in bytes, the
    * [[GuardedBroadcast.rowBytes]] of every row as collected.
    */
  private[bgp] final case class HeldLog(
      weights: Map[String, Map[Row, Long]] = Map.empty,
      dictRows: Vector[Row] = Vector.empty,
      schemas: Map[String, StructType] = Map.empty,
      bytes: Long = 0L) {
    /** This log plus `rows` of `part`: [[LogPart.held]] rows with their
      * byte widths, as [[collectHeld]] returns them.
      */
    def absorb(part: LogPart, schema: StructType,
        rows: Seq[(Row, Long)]): HeldLog = {
      val k = part.keys.length
      copy(
        weights = if (!part.weighed) weights else weights.updated(part.name,
          rows.foldLeft(weights.getOrElse(part.name, Map.empty[Row, Long])) {
            case (m, (r, _)) =>
              val key = Row.fromSeq(r.toSeq.take(k))
              val w = r.getLong(k + 1)
              m.updated(key, m.get(key).fold(w)(math.max(_, w)))
          }),
        dictRows = if (part.weighed) dictRows else dictRows ++ rows.map(_._1),
        schemas = schemas.updated(part.name, schema),
        bytes = bytes + rows.iterator.map(_._2).sum)
    }

    /** Everything this log touches, as one [[Touched]]. */
    def touched: Touched = Touched(
      weights.getOrElse(DefaultLog.name, Map.empty).keySet.map(_.getString(0)),
      weights.contains(QuadLog.name), dictRows)
  }

  /** What a batch changed: the predicates whose slices it touched,
    * whether it touched the quads, and the dict rows it appended.
    */
  private[bgp] final case class Touched(preds: Set[String] = Set.empty,
      quads: Boolean = false, dictRows: Vector[Row] = Vector.empty) {
    def isEmpty: Boolean = preds.isEmpty && !quads && dictRows.isEmpty
    def add(part: LogPart, rows: Seq[Row]): Touched = part match {
      case DefaultLog => copy(preds = preds ++ rows.map(_.getString(0)))
      case QuadLog => copy(quads = true)
      case _ => copy(dictRows = dictRows ++ rows)
    }
  }

  /** Where a store stands in its versioned dataset: the version root it
    * was read from, the delta slot after the last batch merged into it,
    * the version's base relations (bare scans), the version's delta log
    * held on the driver, and the relations the store was built with
    * (see [[TripleStore.stands]]).
    */
  private[bgp] final class Standing(val root: String, val nextSeq: Int,
      val base: TripleStore, val log: HeldLog,
      slices: Map[String, DataFrame], quads: Option[DataFrame],
      dict: Option[DataFrame]) {
    def describes(st: TripleStore): Boolean = {
      def same(a: Option[DataFrame], b: Option[DataFrame]): Boolean =
        a.size == b.size && a.zip(b).forall { case (x, y) => x eq y }
      (st.slices eq slices) && same(st.quads, quads) && same(st.dict, dict)
    }
  }

  private def standOn(st: TripleStore, root: String, nextSeq: Int,
      base: TripleStore, log: HeldLog): TripleStore =
    st.copy(standing = Some(
      new Standing(root, nextSeq, base, log, st.slices, st.quads, st.dict)))

  /** The held rows of one batch or log with their widths, collected
    * within `budget` bytes ([[GuardedBroadcast.collectBounded]]), or
    * None when they may pass it.
    */
  private def collectHeld(held: DataFrame,
      budget: Long): Option[Seq[(Row, Long)]] =
    GuardedBroadcast.rowBytes(StructType(held.schema.filterNot(_.name == "__w")))
      .flatMap(GuardedBroadcast.collectBounded(held, _, budget))

  /** What one [[writeBackDelta]] did: how the store it returned was
    * made — `advanced` by the batches it appended, `loaded` from disk,
    * or `flipped` to a freshly written version (bootstrap, structural
    * op, compaction) — the delta slots it claimed, the insert and
    * tombstone rows it appended (None when a batch was written without
    * being collected; dict rows are not counted), the
    * dataset version then current, the milliseconds spent writing
    * and then making the store, and for a flip the units it rewrote
    * and carried ([[Flip]]).
    */
  final case class WriteBack(outcome: String, seqs: Seq[Int],
      rows: Option[Long], version: Option[Int], writeMs: Long,
      advanceMs: Long, flip: Option[Flip] = None)

  /** DELTA-GRAIN write-back of one update chain into the dataset at
    * `path`, returning the store that now stands on disk. Each row-grain
    * op APPENDS its insert/tombstone rows as a parquet delta batch
    * under the current version root (`delta/default/seq=<k>`,
    * `delta/quads/seq=<k>`) — bytes written scale with the op's DELTA
    * rows, never with the size of a touched slice. At 100 TB this is
    * the difference that keeps a served endpoint alive: one inserted
    * `rdf:type` triple writes one kilobyte-scale delta file instead of
    * rewriting the corpus's hottest predicate slice. Past
    * [[CompactDeltaBatches]] batches the write-back compacts `next`
    * into a fresh version ([[writeDatasetVersioned]]: the slices the
    * log touched are rewritten, the rest carried) and the log resets.
    * `next` is compacted only when it holds the whole log (`prev`
    * stood at the walk's first slot and no claim skipped a slot);
    * otherwise another writer's batch is in the log, and the dataset
    * loaded from disk is compacted instead.
    *
    * The returned store is `prev` ADVANCED by the appended batches when
    * `prev` is what stood on disk before them (it carries the
    * [[Standing]] that [[fromDatasetParquet]] or an earlier advance
    * gave it): the version's base stays loaded, its delta log is held
    * on the driver as per-key latest weights, and only the slices,
    * quads and dict rows the batches touched are re-merged from
    * driver-local relations — no listing, schema inference or log
    * aggregation, and no job. Each batch is collected once (bounded,
    * [[collectHeld]]) and written by the driver from the collected rows
    * ([[writeDeltaBatch]]), so an op's delta is computed once and a
    * driver-local delta (a DATA op's rows, an instantiated template)
    * is written with no job; only a batch over the budget is written
    * by a Spark job. The dataset is loaded instead
    * ([[fromDatasetParquet]]) when the advance cannot be made: `prev`
    * stands elsewhere or not at all, another writer claimed a slot
    * since (the slot claimed is not the one after `prev`'s last merged
    * batch), or the log would pass `spark.sql.autoBroadcastJoinThreshold`
    * bytes (always, when broadcasting is disabled).
    *
    * Structural ops (CLEAR/DROP/LOAD/graph management — not row-grain)
    * checkpoint a full new version immediately. Version flips never
    * touch the previous version's files ([[KeepVersions]]), so
    * readers loaded before the flip keep a consistent snapshot. A
    * flip's store is loaded from the new version, which has no log.
    *
    * `next` must be `prev` with exactly `deltas`' ops applied —
    * [[graft.bgp.SparqlUpdate.applyAllWithDelta]] produces the pair.
    * ENCODED stores persist id-space delta rows under the encoded
    * [[writeDataset]] layout, with each op's dictionary growth
    * appended as `delta/dict/seq=` batches (audited, batch-scoped —
    * [[hashDictDelta]]/[[sequentialDictDelta]]). `report` receives what
    * was done.
    */
  def writeBackDelta(prev: TripleStore, next: TripleStore, path: String,
      deltas: Seq[OpDelta],
      report: WriteBack => Unit = _ => ()): TripleStore = {
    val spark =
      try sparkOf(next) catch { case _: IllegalArgumentException => sparkOf(prev) }
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val t0 = System.nanoTime()
    def ms(from: Long): Long = (System.nanoTime() - from) / 1000000
    def flipped(onDisk: TripleStore, seqs: Seq[Int],
        rows: Option[Long]): TripleStore = {
      val flip = writeDatasetVersioned(onDisk, path)
      val t1 = System.nanoTime()
      val st = fromDatasetParquet(spark, path)
      report(WriteBack("flipped", seqs, rows, Some(flip.version),
        (t1 - t0) / 1000000, ms(t1), Some(flip)))
      st
    }
    val hasLayout = currentVersion(spark, path).isDefined ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/default"))
    // bootstrap, or a structural op: checkpoint a full new version
    if (!hasLayout || deltas.exists(_.structural))
      return flipped(next, Nil, None)
    val root = datasetRoot(spark, path)
    val thr = GuardedBroadcast.threshold(spark)
    var seq = DeltaLog.slots(fs, root).next
    // prev holds the whole log on disk: it stands on this version root
    // with no batch appended since its last merged one, and no claim
    // below walks past another writer's slot
    var whole = prev.stands.exists(s => s.root == root && s.nextSeq == seq)
    // the log to advance: prev's own, while it is whole
    var log = prev.stands.filter(_ => thr > 0 && whole).map(_.log)
    var touched = Touched()
    val claimed = mutable.ArrayBuffer.empty[Int]
    var rows: Option[Long] = Some(0L)
    deltas.foreach { d =>
      val parts = LogParts.zip(Seq(d.dictRows, d.default, d.quads))
        .collect { case (part, Some(r)) => part -> r }
      if (parts.nonEmpty) {
        // CAS-shaped sequence reservation: two JVMs appending to one
        // dataset can interleave batches but never clobber one; a walk
        // past a slot another writer claimed means the log on disk is
        // no longer the one held, so the store is loaded
        val expected = seq
        seq = DeltaLog.claimSlot(fs, root, seq, None)
        if (seq != expected) { log = None; whole = false }
        claimed += seq
        parts.foreach { case (part, r) =>
          val held = part.held(r, lit(seq))
          val schema = StructType(held.schema.filterNot(_.name == "__w"))
          // collected within what the held log leaves of the budget, so
          // the batch is computed once and written from its rows
          (if (thr <= 0) None
           else collectHeld(held, thr - log.fold(0L)(_.bytes))) match {
            case Some(got) =>
              writeDeltaBatch(spark, Left((got.map(g =>
                Row.fromSeq(g._1.toSeq.take(schema.length))), schema)),
                root, part, seq, fs)
              log = log.map(_.absorb(part, schema, got))
              touched = touched.add(part, got.map(_._1))
              if (part.weighed) rows = rows.map(_ + got.size)
            case None =>
              writeDeltaBatch(spark, Right(r.select(part.cols.map(col): _*)),
                root, part, seq, fs)
              log = None
              rows = None
          }
        }
        seq += 1
      }
    }
    // not whole: another writer's batch is in the log, so the flip
    // compacts what is on disk
    if (seq >= CompactDeltaBatches)
      return flipped(if (whole) next else fromDatasetParquet(spark, path),
        claimed.toSeq, rows)
    val t1 = System.nanoTime()
    val (st, outcome) = (log, prev.stands) match {
      case (Some(l), Some(s)) =>
        (standOn(merged(s.base, prev, l, touched), root, seq, s.base, l),
          "advanced")
      case _ => (fromDatasetParquet(spark, path), "loaded")
    }
    report(WriteBack(outcome, claimed.toSeq, rows, currentVersion(spark, path),
      (t1 - t0) / 1000000, ms(t1)))
    st
  }

  /** Diff-derived write-back for callers without op introspection:
    * row-grain deltas are computed by anti-joining `prev` against
    * `next` per TOUCHED slice (reference inequality is the touched
    * set — updates are functional maps over the immutable store, so
    * an untouched predicate keeps its exact DataFrame object). Bytes
    * WRITTEN scale with the delta; compute scales with the touched
    * slices (two anti-joins each). The op-introspected overload
    * ([[graft.bgp.SparqlUpdate.applyAllWithDelta]]) avoids even that
    * scan for data ops — prefer it on served endpoints. Returns the
    * store that now stands on disk, as the op-introspected overload.
    */
  def writeBackDelta(prev: TripleStore, next: TripleStore,
      path: String): TripleStore = {
    def withP(p: String, df: DataFrame, del: Boolean): DataFrame =
      df.select(lit(p).as("p"), col("s"), col("o"), lit(del).as("del"))
    val changed = next.slices.filter { case (p, df) =>
      !prev.slices.get(p).exists(_ eq df)
    }
    val removed = prev.slices.keySet -- next.slices.keySet
    val defaultParts: Seq[DataFrame] =
      changed.toSeq.flatMap { case (p, df) =>
        val base = prev.slices.get(p)
        val ins = base.map(b => df.join(b, Seq("s", "o"), "left_anti"))
          .getOrElse(df)
        val del = base.map(b => b.join(df, Seq("s", "o"), "left_anti"))
        withP(p, ins, del = false) +: del.map(withP(p, _, del = true)).toSeq
      } ++ removed.toSeq.map(p => withP(p, prev.slices(p), del = true))
    val qCols = Seq("g", "p", "s", "o")
    def q4(df: DataFrame, del: Boolean): DataFrame =
      df.select((qCols.map(col) :+ lit(del).as("del")): _*)
    val quadsDelta: Option[DataFrame] = (prev.quads, next.quads) match {
      case (Some(a), Some(b)) if a eq b => None
      case (None, None) => None
      case (Some(a), Some(b)) =>
        Some(q4(b.join(a, qCols, "left_anti"), del = false)
          .unionByName(q4(a.join(b, qCols, "left_anti"), del = true)))
      case (None, Some(b)) => Some(q4(b, del = false))
      case (Some(a), None) => Some(q4(a, del = true))
    }
    val defaultDelta = defaultParts.reduceOption(_ unionByName _)
    // dict growth without op introspection: when the dict object moved,
    // diff it by id (vocabulary-sized anti-join — the op-introspected
    // overload avoids this scan; prefer it on served endpoints)
    val dictDelta: Option[DataFrame] = (prev.dict, next.dict) match {
      case (Some(a), Some(b)) if !(a eq b) =>
        Some(b.join(a.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("value"), col("dt"), col("lang")))
      case _ => None
    }
    if (defaultDelta.isEmpty && quadsDelta.isEmpty && dictDelta.isEmpty)
      // nothing changed — the overload still bootstraps an absent layout
      writeBackDelta(prev, next, path, Seq.empty)
    else writeBackDelta(prev, next, path,
      Seq(OpDelta(defaultDelta, quadsDelta, structural = false,
        dictRows = dictDelta)))
  }

  /** Truncate the store's logical-plan LINEAGE (localCheckpoint on
    * every slice, the quads relation, and the dict): a long-lived
    * served endpoint applying thousands of functional updates
    * otherwise accumulates unbounded plan depth — each op wraps the
    * previous plan in a union/anti-join, so planning cost and driver
    * plan memory grow per op even though the DATA stays small. The
    * checkpoint replaces each plan with a depth-1 scan of its
    * materialized RDD (lazy — no job storm over a wide predicate
    * inventory; each slice materializes on first use). This is the
    * in-memory analog of the [[writeBackDelta]] + [[fromDatasetParquet]]
    * loop for endpoints serving without a persist directory. A relation
    * that is still the base scan of the version the store was loaded
    * from has no lineage to cut and is kept as it is, so a version flip
    * can still carry it by reference ([[writeDatasetVersioned]]).
    */
  def truncateLineage(st: TripleStore): TripleStore = {
    val base = st.standing.map(_.base)
    def cut(df: DataFrame, scan: Option[DataFrame]): DataFrame =
      if (scan.exists(_ eq df)) df else df.localCheckpoint(eager = false)
    st.copy(
      slices = st.slices.map { case (p, df) =>
        p -> cut(df, base.flatMap(_.slices.get(p)))
      },
      dict = st.dict.map(cut(_, base.flatMap(_.dict))),
      quads = st.quads.map(cut(_, base.flatMap(_.quads))))
  }

  /** `base ANTI touched ∪ alive`: one relation of a version's base
    * layout with a delta verdict merged in — the read-time merge of
    * every load and every advance. `verdict` holds the touched keys
    * with their latest weight `__w` ([[deltaWeight]]: odd leaves the
    * key present); `small` readies the touched keys for a broadcast
    * join — a distributed verdict goes through the guard, while a
    * verdict held on the driver is a `LocalRelation` that Catalyst
    * sizes from its rows and broadcasts on its own — so the base scan
    * keeps its pruning and the merge never shuffles the base.
    */
  private def mergeVerdict(base: Option[DataFrame], verdict: DataFrame,
      keys: Seq[String], small: DataFrame => DataFrame): DataFrame = {
    val alive = verdict.filter(col("__w") % 2 === 1).select(keys.map(col): _*)
    base.map(_.join(small(verdict.select(keys.map(col): _*)), keys, "left_anti")
      .unionByName(alive)).getOrElse(alive)
  }

  /** `cur` with what `t` names re-merged from `base` and the held
    * `log`: each touched slice and the quads by [[mergeVerdict]] over a
    * driver-local verdict, the dict as `cur`'s plus the touched dict
    * rows; everything else is `cur`'s own relation. A load passes the
    * bare base as `cur` and everything the log touches; an advance
    * passes the served store and what its batches touched.
    */
  private def merged(base: TripleStore, cur: TripleStore, log: HeldLog,
      t: Touched): TripleStore =
    if (t.isEmpty) cur
    else {
      val spark = sparkOf(base)
      def verdict(part: LogPart, keys: Seq[String],
          weights: Iterable[(Row, Long)]): DataFrame = {
        val at = keys.map(part.keys.indexOf)
        val schema = log.schemas(part.name)
        spark.createDataFrame(
          weights.map { case (k, w) => Row.fromSeq(at.map(k.get) :+ w) }
            .toSeq.asJava,
          StructType(keys.map(schema(_)) :+
            StructField("__w", LongType, nullable = false)))
      }
      val byPred = log.weights.getOrElse(DefaultLog.name, Map.empty)
        .groupBy(_._1.getString(0))
      val slices = t.preds.map { p =>
        p -> mergeVerdict(base.slices.get(p),
          verdict(DefaultLog, Seq("s", "o"), byPred.getOrElse(p, Map.empty)),
          Seq("s", "o"), identity)
      }
      val quads =
        if (!t.quads) cur.quads
        else Some(mergeVerdict(base.quads,
          verdict(QuadLog, Seq("g", "s", "p", "o"), log.weights(QuadLog.name)),
          Seq("g", "s", "p", "o"), identity))
      val dict =
        if (t.dictRows.isEmpty) cur.dict
        else cur.dict.map(_.unionByName(spark.createDataFrame(
          t.dictRows.asJava, log.schemas(DictLog.name))))
      cur.copy(slices = cur.slices ++ slices, quads = quads, dict = dict)
    }

  /** [[merged]]'s distributed twin, for a log too large to hold on the
    * driver: each weighed log aggregates to its latest-weight verdict
    * (one op-sized aggregate, lineage truncated so the per-slice merges
    * reuse one materialization), merged through the broadcast guard;
    * the dict log unions onto the base dict.
    */
  private def mergedDistributed(base: TripleStore,
      logs: Seq[(LogPart, DataFrame)]): TripleStore = {
    def verdict(part: LogPart): Option[DataFrame] =
      logs.collectFirst { case (`part`, rows) =>
        rows.groupBy(part.keys.map(col): _*)
          .agg(max(deltaWeight(col("seq"), col("del"))).as("__w"))
          .localCheckpoint(eager = false)
      }
    val slices = verdict(DefaultLog).fold(base.slices) { v =>
      val preds = v.select(col("p")).distinct()
        .limit(MaxPredicates + 1).collect().map(_.getString(0))
      require(preds.length <= MaxPredicates,
        s"delta log touches more than $MaxPredicates predicates")
      // merge ONLY the predicates the log touches: an untouched slice
      // keeps its bare pruned scan — no anti-join, no broadcast job
      base.slices ++ preds.map(p => p -> mergeVerdict(base.slices.get(p),
        v.filter(col("p") === p), Seq("s", "o"), GuardedBroadcast.maybe))
    }
    val quads = verdict(QuadLog).fold(base.quads)(v => Some(mergeVerdict(
      base.quads, v, Seq("g", "s", "p", "o"), GuardedBroadcast.maybe)))
    val dict = logs.collectFirst { case (DictLog, rows) => rows }
      .fold(base.dict)(rows => base.dict.map(
        _.unionByName(rows.select(DictLog.cols.map(col): _*))))
    base.copy(slices = slices, quads = quads, dict = dict)
  }

  /** Load a dataset at `path`: resolves the current version root
    * ([[datasetRoot]]), reads the base layout — the default graph's
    * slices dispatch by partition pruning, and GRAPH blocks filter the
    * quads relation on its `(g, p)` partition columns, Catalyst turns
    * both into `PartitionFilters` (ScaleSpec asserts the pruned scan) —
    * taking each unit the version's manifest carries from the directory
    * the manifest names (each holding directory is read once, and its
    * slices keep their pruned scans), and merges any pending delta log
    * on top: per touched slice (and
    * the quads), `base ANTI touched ∪ alive` ([[mergeVerdict]]);
    * untouched slices stay bare scans. A log that fits under
    * `spark.sql.autoBroadcastJoinThreshold` is collected to the driver
    * in one bounded job per log directory and held there, which lets a
    * later [[writeBackDelta]] advance the loaded store instead of
    * loading again; a larger one is merged distributed.
    */
  def fromDatasetParquet(spark: SparkSession, path: String): TripleStore =
    loadVersionRoot(spark, datasetRoot(spark, path), None)

  /** TIME-TRAVEL load: the dataset at `path` as it stood while
    * retained `version` was current — the version's base checkpoint
    * merged with its own delta log, or only the FIRST `maxOps` delta
    * batches of it for op-grain history within the version (the log's
    * `seq=` partitioning makes the bound partition pruning — later
    * batches' files never open). `maxOps = Some(0)` is the bare
    * checkpoint state at the version flip. Versions are readable
    * while [[listVersions]] shows them ([[KeepVersions]] retention);
    * a garbage-collected version fails loudly here rather than
    * returning a partial store.
    */
  def fromDatasetParquet(spark: SparkSession, path: String, version: Int,
      maxOps: Option[Int] = None): TripleStore = {
    val avail = listVersions(spark, path)
    require(avail.contains(version),
      s"version $version of $path is not retained (available: " +
        s"${avail.mkString(", ")})")
    loadVersionRoot(spark, s"$path/v$version", maxOps)
  }

  private def loadVersionRoot(spark: SparkSession, root: String,
      maxOps: Option[Int]): TripleStore = {
    val (fs, _) = VersionedRoot.fsOf(spark, root)
    def exists(d: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$root/$d"))
    // a carried unit is read from the version directory holding it
    val carried = VersionedRoot.readManifest(fs, root)
    def holder(unit: String): String = carried.get(unit)
      .fold(root)(m => s"${root.substring(0, root.lastIndexOf('/'))}/v$m")
    // the slots are listed before the log is read and the read stops at
    // them, so a batch committed during the load is never half-merged
    // nor mistaken for merged
    val slots = DeltaLog.slots(fs, root)
    val nextSeq = slots.next
    val upTo = maxOps.fold(nextSeq)(math.min(_, nextSeq))
    // encoded datasets carry their dictionary beside the slices; the id
    // regime is re-detected from the loaded rows
    val dict0 =
      if (carried.contains(DictUnit) || exists(DictUnit))
        Some(spark.read.parquet(s"${holder(DictUnit)}/$DictUnit")
          .select(DictLog.cols.map(col): _*).localCheckpoint(eager = false))
      else None
    val quads0 =
      if (carried.contains(QuadsUnit) || exists(QuadsUnit) && fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/$QuadsUnit")).exists(_.isDirectory))
        Some(spark.read.parquet(s"${holder(QuadsUnit)}/$QuadsUnit")
          // partition-column type inference reads an id-space graph
          // label as int where every value happens to fit — normalize
          // to the encoded store's BIGINT id type
          .select((if (dict0.isDefined) col("g").cast("long") else col("g"))
            .as("g"), col("s"), col("p"), col("o")))
      else None
    val preds = checkedInventory(predicatePartitions(fs, s"$root/default") ++
      carried.keys.filter(_.startsWith(SlicePrefix)).map(u =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(u.stripPrefix(SlicePrefix))), s"$root/default")
    // s/o are ids on an encoded dataset and strings otherwise, so no
    // holder's read infers its schema from a file (a job each)
    val so = StructType(Seq("s", "o").map(StructField(_,
      if (dict0.isDefined) LongType else StringType)))
    val slices = preds.groupBy(p => holder(sliceUnit(p))).flatMap {
      case (dir, ps) => scanSlices(spark.read.schema(so).parquet(s"$dir/default"), ps)
    }
    val base = TripleStore(slices, None).copy(quads = quads0, dict = dict0)
    // each log's batches below `upTo`: `seq` is the partition-discovered
    // batch directory, so the bound is partition pruning
    val logs = LogParts.filter(part =>
        slots.committed.getOrElse(part.name, Set.empty[Int]).exists(_ < upTo))
      .map(part => part -> spark.read.parquet(s"$root/delta/${part.name}")
        .filter(col("seq") < upTo))
    val thr = GuardedBroadcast.threshold(spark)
    val held = logs.foldLeft(Option.when(thr > 0)(HeldLog())) {
      case (Some(log), (part, rows)) =>
        val h = part.held(rows, col("seq"))
        collectHeld(h, thr - log.bytes).map(got => log.absorb(part,
          StructType(h.schema.filterNot(_.name == "__w")), got))
      case (None, _) => None
    }
    val st = held.fold(mergedDistributed(base, logs))(log =>
      merged(base, base, log, log.touched))
    // the base dict is already a checkpoint; one the log grew is
    // checkpointed once more
    val dict = st.dict.map(d =>
      if (base.dict.exists(_ eq d)) d else d.localCheckpoint(eager = false))
    val loaded = st.copy(dict = dict, sequential = dict.exists(isSequentialDict))
    // only the head of the log can be advanced, and only once every
    // claimed slot has committed its batch
    held.filter(_ => maxOps.isEmpty && slots.locks.subsetOf(slots.anyCommitted))
      .fold(loaded)(standOn(loaded, root, nextSeq, base, _))
  }

  /** Load a store from the partitioned layout. The predicate inventory
    * IS the partition-directory listing — one filesystem metadata read,
    * no parquet data scanned (ScaleSpec asserts zero records read) —
    * and each slice is a filter on the partition column that Catalyst
    * turns into `PartitionFilters` on the scan: touching one predicate
    * reads one directory. Predicate names round-trip through Hive-style
    * path escaping (`rdf:type` ↔ `p=rdf%3Atype`).
    */
  def fromPartitionedParquet(spark: SparkSession, path: String): TripleStore =
    TripleStore(scanSlices(spark.read.parquet(path),
      listPredicatePartitions(spark, path)), None)

  /** The slices `preds` of one read of a p-partitioned layout, each a
    * filter on its partition column.
    */
  private def scanSlices(df: DataFrame, preds: Seq[String]): Map[String, DataFrame] =
    preds.map(p => p -> df.filter(col("p") === p).select(col("s"), col("o"))).toMap

  /** Predicate inventory of a p-partitioned layout: the partition-
    * directory listing — one filesystem metadata read, no parquet data
    * scanned. Names round-trip Hive path escaping
    * (`rdf:type` ↔ `p=rdf%3Atype`).
    */
  private def listPredicatePartitions(
      spark: SparkSession, path: String): Seq[String] = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    checkedInventory(predicatePartitions(fs, path), path)
  }

  /** The predicates of the `p=` directories under `path`; none when
    * `path` does not exist.
    */
  private def predicatePartitions(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("p="))
      .map(st => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(st.getPath.getName.stripPrefix("p=")))
  }

  private def checkedInventory(preds: Seq[String], path: String): Seq[String] = {
    require(preds.nonEmpty, s"no p=... partition directories under $path")
    require(preds.length <= MaxPredicates,
      s"more than $MaxPredicates predicate partitions under $path")
    preds
  }

  /** Persist a store as the PRIMARY at-scale layout: a catalog table
    * partitioned by predicate AND hash-bucketed + sorted by subject.
    * This is one layout carrying both of RDF-3X's access-path roles:
    *
    *  - a constant-predicate pattern prunes to one `p=...` partition
    *    directory (the POS analog — `PartitionFilters` on the scan);
    *  - two such scans joined on their subjects are co-partitioned
    *    (`HashPartitioning(s, buckets)` from the bucket spec) AND
    *    per-bucket sorted, so the subject–subject joins that dominate
    *    BGP shapes (stars, the triangle's `?o` chain) run with ZERO
    *    exchange and zero sort — at 100 TB the shuffle of two
    *    data-sized relations is the bottleneck this removes;
    *  - a constant-subject variable-predicate probe prunes to one
    *    bucket per partition (the SOP analog, `SelectedBucketsCount`).
    *
    * The pre-write `repartition(buckets, s)` uses the same
    * `pmod(murmur3(s), buckets)` function as the bucket spec, so each
    * writer task holds exactly one bucket's rows → ONE file per
    * (partition, bucket), which is what lets the scan report
    * per-bucket sortedness (multi-file buckets lose `outputOrdering`).
    * Encoded stores write the same shape with BIGINT s/o; partition
    * directories always carry the STRING predicate name (dispatch is
    * by name on every store form).
    *
    * Bucket count: `buckets` when given, else
    * `max(defaultParallelism, ⌈bytes / spark.sql.files.maxPartitionBytes⌉)`
    * — one bucket per core, and more only when a bucket would outgrow
    * one scan split (a bucketed scan reads a bucket as one task and
    * never splits its files). The bytes are measured from the rows
    * being written (one aggregate: UTF-8 bytes of string s/o, 8 per
    * id), an upper bound on the parquet they become — not Catalyst's
    * `sizeInBytes`, which multiplies children across joins. Bucketing
    * is catalog state, so the count is recorded in the layout's
    * [[BucketCountFile]], and [[registerPartitionedBucketed]] reads it
    * back.
    */
  def writePartitionedBucketed(store: TripleStore, path: String,
      table: String, buckets: Option[Int] = None,
      bucketCol: String = "s"): Unit = {
    val spark = store.slices.values.head.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // persisted: the sizing pass and the write read the same rows
    val rows = store.slices.map { case (p, df) =>
      df.select(col("s"), col("o"), lit(p).as("p"))
    }.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = buckets.getOrElse(sizeBuckets(rows))
      rows.repartition(n, col(bucketCol))
        .write.mode("overwrite")
        .partitionBy("p")
        .bucketBy(n, bucketCol).sortBy(bucketCol)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
      val (fs, _) = VersionedRoot.fsOf(spark, path)
      val out = fs.create(new org.apache.hadoop.fs.Path(path, BucketCountFile))
      try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    } finally rows.unpersist()
  }

  /** The sized bucket count of [[writePartitionedBucketed]]. */
  private def sizeBuckets(rows: DataFrame): Int = {
    val spark = rows.sparkSession
    def bytes(c: String): Column = rows.schema(c).dataType match {
      case org.apache.spark.sql.types.StringType =>
        coalesce(octet_length(col(c)).cast("long"), lit(0L))
      case dt => lit(dt.defaultSize.toLong)
    }
    val total = rows.select(coalesce(sum(bytes("s") + bytes("o")), lit(0L)))
      .head.getLong(0)
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(spark.sparkContext.defaultParallelism,
      ((total + split - 1) / split).toInt)
  }

  /** The file inside a bucketed layout that records its bucket count
    * (the leading underscore hides it from Spark's file listing). It is
    * written after the table is saved, so its presence also marks a
    * complete layout.
    */
  val BucketCountFile = "_bucket_count"

  /** The bucket count recorded in the layout at `path`. */
  private[graft] def recordedBuckets(spark: SparkSession, path: String): Int = {
    val (fs, _) = VersionedRoot.fsOf(spark, path)
    val f = new org.apache.hadoop.fs.Path(path, BucketCountFile)
    require(fs.exists(f), s"$path has no $BucketCountFile record: not a " +
      "finished writePartitionedBucketed layout — rewrite it")
    val in = fs.open(f)
    val text = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    text.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$f holds '$text', not a bucket count"))
  }

  /** Re-register a persisted partitioned+bucketed layout in this
    * session's catalog and return the bucket-aware table. Bucket and
    * partition metadata are catalog state, not file state: a new JVM
    * re-creates the table by DDL with the RECORDED count (`MSCK REPAIR`
    * re-discovers the partition directories). A wrong count prunes
    * constant-key lookups to the wrong bucket and returns wrong rows
    * with no error, so this fails instead when the record is missing,
    * when an existing catalog entry disagrees with it, or when the
    * largest bucket file's rows do not hash to its bucket under it.
    */
  def registerPartitionedBucketed(spark: SparkSession, path: String,
      table: String, idType: String = "STRING",
      bucketCol: String = "s"): DataFrame = {
    val n = recordedBuckets(spark, path)
    if (spark.catalog.tableExists(table)) {
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec
      require(spec.exists(b =>
          b.numBuckets == n && b.bucketColumnNames == Seq(bucketCol)),
        s"catalog table $table is bucketed as $spec, but $path records " +
          s"$n buckets by $bucketCol — drop the table or rewrite the layout")
    } else {
      val (fs, _) = VersionedRoot.fsOf(spark, path)
      fs.globStatus(new org.apache.hadoop.fs.Path(path, "p=*/part-*"))
        .maxByOption(_.getLen).foreach { f =>
          val id = org.apache.spark.sql.execution.datasources.BucketingUtils
            .getBucketId(f.getPath.getName).getOrElse(-1)
          val misplaced = spark.read.schema(s"$bucketCol $idType")
            .parquet(f.getPath.toString)
            .filter(pmod(hash(col(bucketCol)), lit(n)) =!= id)
            .limit(1).count()
          require(id >= 0 && id < n && misplaced == 0,
            s"${f.getPath} (bucket $id) does not hash into $n buckets by " +
              s"$bucketCol: $path/$BucketCountFile disagrees with the files")
        }
      spark.sql(
        s"""CREATE TABLE $table (s $idType, o $idType, p STRING)
           |USING parquet
           |PARTITIONED BY (p)
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
           |INTO $n BUCKETS
           |LOCATION '$path'""".stripMargin)
      spark.sql(s"MSCK REPAIR TABLE $table")
    }
    spark.table(table)
  }

  /** Load a store from the primary partitioned+bucketed layout. Each
    * slice is a partition-pruned, bucket-aware scan of the table, and
    * BOTH forms expose the table as the variable-predicate view:
    *
    *  - string store: `p` is the partition name itself;
    *  - encoded store: `p` maps through `xxhash64(p)` — the same id
    *    the union view derives (persisted encoded stores are hash-id
    *    by construction; sequential stores are in-memory and never
    *    load through here). The hash is a deterministic expression
    *    over a PARTITION column, so the planner's `p = <id>` /
    *    `p != <id>` comparisons still prune whole directories, and
    *    constant-subject probes keep `SelectedBucketsCount: 1`.
    */
  def fromBucketedTable(spark: SparkSession, path: String, table: String,
      idType: String = "STRING"): TripleStore = {
    val preds = listPredicatePartitions(spark, path)
    val t = registerPartitionedBucketed(spark, path, table, idType)
    val slices = preds.map { p =>
      p -> t.filter(col("p") === p).select(col("s"), col("o"))
    }.toMap
    TripleStore(slices, None,
      sBucketed =
        if (idType == "STRING") Some(t)
        else Some(t.select(col("s"), xxhash64(col("p")).as("p"), col("o"))))
  }

  /** Persist the dictionary as an id-bucketed, id-sorted parquet table
    * (SCALE.md: the single-pass unpivot decode joins on `id`; when the
    * result side is too large to broadcast, the dict side is already
    * hash-partitioned by the join key and needs no exchange).
    */
  def writeDict(dict: DataFrame, path: String, table: String,
      buckets: Int = 16): Unit = {
    val spark = dict.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    dict.write.mode("overwrite")
      .bucketBy(buckets, "id").sortBy("id")
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Re-register a persisted dictionary in this session's catalog. */
  def registerDict(spark: SparkSession, path: String, table: String,
      buckets: Int = 16): DataFrame = {
    if (!spark.catalog.tableExists(table))
      spark.sql(
        s"""CREATE TABLE $table (id BIGINT, value STRING,
           |  dt STRING, lang STRING)
           |USING parquet
           |CLUSTERED BY (id) SORTED BY (id) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    spark.table(table)
  }

  /** Dictionary-encode a string-form store: slice values → xxhash64
    * IDs, dict → (id, value, dt, lang) over the union of all s/o
    * positions — one distinct over the data, no driver collect. The
    * `dt`/`lang` columns are the RDF 1.1 datatype/language METADATA of
    * each value, derived once from its canonical spelling
    * ([[graft.bgp.RdfLex]]), so typed-value filters on the encoded
    * store are plain column predicates during the dict scan.
    *
    * == Id-collision safety ==
    * Hash ids (rather than RDF-3X's sequential dictionary, the
    * reference's delegate — `Proxy.c:211-224`) keep the planner able
    * to RE-DERIVE a constant's id without a dictionary join
    * (BgpPlanner hashes query constants directly). The price is the
    * 64-bit birthday bound: past ~10⁹ distinct terms a silent
    * collision — two terms joining as one — becomes plausible
    * (p ≈ n²/2⁶⁵; ~5% at 5·10⁹ terms). So `encode` AUDITS: one
    * vocabulary-sized `groupBy(id)` over the dict it just built, run
    * eagerly at store-build time, fails loudly with the colliding
    * lexical forms instead of returning a store that silently merges
    * terms. The documented escape for the >10⁹-term regime is a true
    * sequential dictionary (dense ids from a ranked dict build) —
    * that swaps the planner's hash-a-constant shortcut for one
    * broadcast dict lookup per query constant, which is exactly what
    * RDF-3X does; the audit is what tells an operator the swap is
    * due. `term2id` is overridable for tests to inject synthetic
    * collisions and pin the failure mode.
    */
  def encode(
      store: TripleStore,
      term2id: Column => Column = xxhash64(_)): TripleStore = {
    val spark = store.slices.values.head.sparkSession
    import spark.implicits._
    // predicate names participate too: a variable at the p position
    // binds an encoded predicate that must decode at the result edge
    val predNames = store.slices.keySet.toSeq.toDF("value")
    val dict = (store.slices.values.toSeq
      .flatMap(df => Seq(df.select(col("s").as("value")), df.select(col("o").as("value"))))
      :+ predNames)
      .reduce(_ unionByName _)
      .distinct()
      .select(term2id(col("value")).as("id"), col("value"),
        RdfLex.datatype(col("value")).as("dt"),
        RdfLex.lang(col("value")).as("lang"))
    // build-time collision audit (see scaladoc): distinct values
    // sharing an id would silently join as one term downstream.
    val clashes = dict.groupBy(col("id"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("a"), max(col("value")).as("b"))
      .filter(col("n") > 1)
      .take(3)
    if (clashes.nonEmpty) {
      val ex = clashes.map(r => s"id=${r.get(0)}: " +
        s"'${r.getString(2)}' vs '${r.getString(3)}'").mkString("; ")
      throw new IllegalStateException(
        "dictionary id collision — distinct RDF terms map to one id " +
          s"and would silently join as one ($ex). The hash-id encoding " +
          "has hit its birthday bound; rebuild this store with a " +
          "sequential dictionary (see TripleStore.encode scaladoc).")
    }
    val enc = store.slices.map { case (p, df) =>
      p -> df.select(term2id(col("s")).as("s"), term2id(col("o")).as("o"))
    }
    TripleStore(enc, Some(dict))
  }

  /** Delta-scoped hash-dict growth: audits the batch vocabulary
    * intra-batch AND against the standing dict (the same two failure
    * modes as the build-time audit in [[encode]]), and returns ONLY the
    * genuinely new `(id, value, dt, lang)` rows. O(batch) per call,
    * never O(vocabulary) — the incremental discipline shared by
    * SPARQL Update's insert arm and the streaming encoded-ingest sink
    * ([[graft.streaming.StreamOps.encodedIngestSink]]).
    */
  private[graft] def hashDictDelta(standing: DataFrame,
      values: DataFrame): DataFrame = hashDictDeltaCounted(standing, values)._1

  /** Drop the blocks of every local checkpoint in `df`'s plan — for a
    * caller that has written a [[hashDictDelta]] result and reads it
    * no more. Until then the blocks stay until the driver's GC finds
    * the plan unreachable, which on a long stream is never soon.
    */
  private[graft] def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[hashDictDelta]] plus the new-row count, for callers that would
    * otherwise pay a separate `isEmpty`/`count` action on the delta.
    *
    * r15 action discipline: the old spelling ran THREE driver actions
    * per call (intra-batch `take`, batch-vs-standing `take`, and the
    * caller's `isEmpty`), each re-executing the batch⋈dict join and
    * its broadcast builds — at update cadence (one call per op) that
    * was the single largest driver-job source in the update family.
    * Now the batch-sized join materializes ONCE (localCheckpoint — the
    * batch is update-grain by contract) and both audits plus the
    * new-row count come out of one 1-row aggregate over it; the
    * returned delta re-reads the checkpointed rows instead of
    * re-joining the dictionary.
    */
  private[graft] def hashDictDeltaCounted(standing: DataFrame,
      values: DataFrame): (DataFrame, Long) = {
    val newTerms = values.distinct()
      .select(xxhash64(col("value")).as("id"), col("value"),
        RdfLex.datatype(col("value")).as("dt"),
        RdfLex.lang(col("value")).as("lang"))
    val joined = newTerms
      .join(standing.select(col("id"), col("value").as("_old")),
        Seq("id"), "left_outer")
      .localCheckpoint()
    // one audit pass: per-id facts first (intra-batch value spread +
    // the standing value, constant within an id), then a single row
    val audit = joined
      .groupBy(col("id"))
      .agg(countDistinct(col("value")).as("_nv"),
        min(col("value")).as("_a"), max(col("value")).as("_b"),
        max(col("_old")).as("_old"))
      .agg(
        max(when(col("_nv") > 1,
          struct(col("id"), col("_a"), col("_b")))).as("dup"),
        max(when(col("_old").isNotNull && col("_old") =!= col("_a"),
          struct(col("id"), col("_a"), col("_old")))).as("clash"),
        sum(when(col("_old").isNull, 1L).otherwise(0L)).as("n_new"))
      .head()
    // intra-batch: two distinct new values sharing an id
    if (!audit.isNullAt(0)) {
      val d = audit.getStruct(0)
      throw new IllegalStateException(
        s"dictionary id collision on insert (id=${d.get(0)}: " +
          s"'${d.get(1)}' vs '${d.get(2)}') — see " +
          "TripleStore.encode scaladoc")
    }
    // batch-vs-standing: same id, different lexical value
    if (!audit.isNullAt(1)) {
      val c = audit.getStruct(1)
      throw new IllegalStateException(
        s"dictionary id collision on insert (id=${c.get(0)}" +
          s", '${c.get(1)}' vs standing '${c.get(2)}') — see " +
          "TripleStore.encode scaladoc")
    }
    (joined.filter(col("_old").isNull)
      .select(col("id"), col("value"), col("dt"), col("lang")),
      if (audit.isNullAt(2)) 0L else audit.getLong(2))
  }

  /** Load a store from the streaming encoded-ingest layout
    * ([[graft.streaming.StreamOps.encodedIngestSink]]):
    * `<root>/triples` is the (p, batch_id)-partitioned encoded
    * relation — predicate dispatch is the same partition pruning as
    * [[fromPartitionedParquet]], the `batch_id` sub-partition is the
    * sink's exactly-once replay key — and `<root>/dict` the standing
    * hash dictionary. The dict regime flag attaches per
    * [[isSequentialDict]].
    */
  def fromEncodedIngest(spark: SparkSession, root: String): TripleStore = {
    val st = fromPartitionedParquet(spark, s"$root/triples")
    val dict = spark.read.parquet(s"$root/dict")
      .select(col("id"), col("value"), col("dt"), col("lang"))
    // RDF graphs are sets, and a stream may deliver the same statement
    // in several micro-batches (distinct batch_id partitions): each
    // slice dedups at load, matching fromTriples' per-slice distinct —
    // without it streaming and batch ingest of the same dump would
    // disagree on multiplicities
    st.copy(
      slices = st.slices.map { case (p, df) => p -> df.distinct() },
      dict = Some(dict), sequential = isSequentialDict(dict))
  }

  /** Detect a persisted dictionary's id regime so a reloaded store
    * gets the right `sequential` flag (the flag is session state, not
    * file state — attaching a DENSE dict to a store the planner
    * treats as hash-id would silently resolve every constant to the
    * wrong id). Dense sequential ids are exactly 1..N by construction
    * (`max(id) == count(*) && min(id) == 1`); xxhash64 ids are
    * 2^64-sparse, where that coincidence is impossible past a handful
    * of terms. One bounded aggregate over the dict at attach time.
    */
  def isSequentialDict(dict: DataFrame): Boolean = {
    val r = dict.agg(min(col("id")), max(col("id")), count(lit(1))).head()
    !r.isNullAt(0) && r.getLong(0) == 1L && r.getLong(1) == r.getLong(2)
  }

  /** Assign DENSE ids `startAt+1 .. startAt+N` to the distinct `value`
    * column of `vocab0` via the banded two-phase prefix sum (see
    * [[encodeSequential]]): nothing data-sized reaches the driver (the
    * band histogram is ≤ `bands` rows) and every window is PARTITIONED
    * (per-band sort ≈ |vocab|/bands rows — no single-partition global
    * sort). `startAt` continues an existing dictionary past its max id
    * (update-time growth). Returns (id, value, dt, lang) rows.
    */
  private[bgp] def assignDenseIds(vocab0: DataFrame, bands: Int,
      startAt: Long): DataFrame = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    val vocab = vocab0.select(col("value")).distinct()
      .withColumn("__band", pmod(xxhash64(col("value")), lit(bands.toLong)))
    // band histogram: ≤ bands rows — the offsets collect is
    // schema-sized, the same discipline as the predicate inventory
    val hist = vocab.groupBy(col("__band")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // running offset per band: cumulative count of all earlier bands
    var acc = startAt
    val offRows = hist.map { case (b, n) =>
      val r = (b, acc); acc += n; r
    }
    // bands-sized LocalRelation: Catalyst sizes it below the broadcast
    // threshold on its own — no hint needed
    val offDf = offRows.toSeq.toDF("__band", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__band")).orderBy(col("value"))
    vocab.join(offDf, "__band")
      .withColumn("id",
        row_number().over(w).cast("long") + col("__off"))
      .select(col("id"), col("value"),
        RdfLex.datatype(col("value")).as("dt"),
        RdfLex.lang(col("value")).as("lang"))
  }

  /** Grow a SEQUENTIAL dictionary with a vocabulary DataFrame: terms
    * already in the dict keep their ids (one anti-join probe — the
    * delta-scoped discipline growDictDf's hash arm follows); genuinely
    * new terms take dense ids continuing past `max(id)` via the same
    * banded prefix sum as the build. The max(id) read is one bounded
    * aggregate — update-cadence work, never data-sized on the driver.
    */
  private[bgp] def growSequentialDict(dict: DataFrame, values: DataFrame,
      bands: Int = 256): DataFrame =
    dict.unionByName(sequentialDictDelta(dict, values, bands))

  /** Just the NEW rows [[growSequentialDict]] would append — dense ids
    * continuing past `max(id)`, deterministic for a given (dict,
    * values) pair, so delta capture and the apply itself agree on ids.
    */
  private[bgp] def sequentialDictDelta(dict: DataFrame, values: DataFrame,
      bands: Int = 256): DataFrame =
    sequentialDictDeltaCounted(dict, values, bands)._1

  /** [[sequentialDictDelta]] plus the new-row count — same action
    * discipline as [[hashDictDeltaCounted]]: the batch-sized anti-join
    * probe materializes once (localCheckpoint) so the count, the band
    * histogram inside [[assignDenseIds]], and every downstream use of
    * the delta read the checkpointed rows instead of re-probing the
    * standing dictionary per action.
    */
  private[bgp] def sequentialDictDeltaCounted(dict: DataFrame,
      values: DataFrame, bands: Int = 256): (DataFrame, Long) = {
    val fresh = values.select(col("value")).na.drop().distinct()
      .join(dict.select(col("value")), Seq("value"), "left_anti")
      .localCheckpoint()
    val nNew = fresh.count()
    val maxId = dict.agg(max(col("id"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    (assignDenseIds(fresh, bands, maxId), nNew)
  }

  /** Dictionary-encode with DENSE SEQUENTIAL ids — the RDF-3X-style
    * build (`Proxy.c:211-224`) for the regime past xxhash64's birthday
    * bound (~10⁹ distinct terms), where hash ids would silently alias
    * terms. Collision-free by construction, so there is no audit.
    *
    * Id assignment is the q205 banded two-phase prefix sum — nothing
    * data-sized ever reaches the driver and no single-partition
    * zipWithIndex/global sort appears: terms hash into `bands`
    * sub-vocabularies, the band histogram (≤ `bands` rows,
    * schema-sized) prefix-sums into band offsets on the driver, and
    * each band assigns `offset + row_number` under a PARTITIONED
    * window (per-band sort ≈ |vocab|/bands rows). Slices then encode
    * through two value→id joins — the one-time dictionary-build
    * shuffle every dense-id store pays at load.
    *
    * The price of dense ids is the planner's constant shortcut: a
    * query constant's id is no longer derivable by hashing, so
    * BgpPlanner resolves each constant with one bounded dict probe at
    * plan time (schema-sized; cached per plan). Column-level
    * re-encodes (subquery exports, federation, inline VALUES tables)
    * would each need a value→id join instead of an expression — those
    * surfaces stay on the hash-id store and fail loudly here.
    *
    * Persist/reload: the slices and dict write through the same
    * [[writePartitioned]]/[[writeDict]] layouts as the hash
    * store; on reattach, derive the `sequential` flag with
    * [[isSequentialDict]] — it is session state, not file state.
    */
  def encodeSequential(store: TripleStore, bands: Int = 256): TripleStore = {
    val spark = store.slices.values.head.sparkSession
    import spark.implicits._
    val predNames = store.slices.keySet.toSeq.toDF("value")
    val vocab = (store.slices.values.toSeq
      .flatMap(df => Seq(df.select(col("s").as("value")),
        df.select(col("o").as("value"))))
      :+ predNames)
      .reduce(_ unionByName _)
    // r15: one lazy localCheckpoint on the dense dict — every slice
    // joins it twice and every downstream ACTION (pattern measurement,
    // update encode, query exec) otherwise re-runs the distinct +
    // band-window assignment from scratch; the checkpoint computes it
    // once per JVM and the ContextCleaner reclaims it with the plan.
    val dict = assignDenseIds(vocab, bands, 0L).localCheckpoint(eager = false)
    val s2id = dict.select(col("value").as("s"), col("id").as("__sid"))
    val o2id = dict.select(col("value").as("o"), col("id").as("__oid"))
    val enc = store.slices.map { case (p, df) =>
      p -> df.join(s2id, "s").join(o2id, "o")
        .select(col("__sid").as("s"), col("__oid").as("o"))
    }
    TripleStore(enc, Some(dict), sequential = true)
  }
}
