package graft

import graft.scale.SkewOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-hygiene specs: salting correctness, bucketed co-located
  * joins, and plan-shape assertions (the properties that matter at
  * 100 TB, checked on small data by reading the physical plan).
  */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  test("hot-type windows are day-sharded or rank-free (r6 global-rank fix)") {
    import org.apache.spark.sql.catalyst.expressions.RowNumber
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    // q253: the data-grain lag must partition by (event_type, day) —
    // the day shard that keeps one hot type off one task; the only
    // single-key type window left is the day-GRAIN boundary carry.
    val p253 = SparkEntry.queries("q253_interarrival")(spark, dir)
      .queryExecution.optimizedPlan
    val lagSpecs = p253.collect {
      case w: LWindow if w.windowExpressions.exists(
        _.find(_.getClass.getSimpleName == "Lag").isDefined) =>
        w.partitionSpec.length
    }
    assert(lagSpecs.contains(2),
      s"q253's event-grain lag must shard by (type, day); specs=$lagSpecs")
    // q248/q263: selection math over (type, value) groups — no
    // row_number window may appear anywhere in the plan (the old
    // shape ranked one type's whole stream on one task).
    for (name <- Seq("q248_median_mad", "q263_gini")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      val rn = plan.collect {
        case w: LWindow if w.windowExpressions.exists(
          _.find(_.isInstanceOf[RowNumber]).isDefined) => w
      }
      assert(rn.isEmpty, s"$name must not materialize per-row ranks")
    }
  }

  test("shingle doc-freq cap plans skew-safe: no Window on the shingle grain") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    // q44 rides the memoized shingleBand relation. The doc-freq cap
    // must be a groupBy aggregate + anti-join — a Window partitioned by
    // the raw shingle key buffers a web-scale boilerplate shingle's
    // entire row set on ONE task before the filter (r11 verdict).
    // Look through the persisted relation's cached plan too: that is
    // exactly where the old window lived.
    val df = SparkEntry.queries("q44_ngram_jaccard")(spark, dir)
    val topWindows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(topWindows.isEmpty,
      s"q44 must not window the shingle relation; found: $topWindows")
    // the cached (persisted) band relation must not hide one either:
    // the physical plan prints the InMemoryRelation's cached plan
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("Window ["),
      s"no Window exec anywhere (incl. the cached band plan) in:\n$physical")
    // and the over-cap exclusion rides a broadcast anti-join at this SF
    assert(physical.contains("LeftAnti"),
      s"expected the over-cap anti-join in:\n$physical")
    assert(df.count() > 0)
  }

  test("LSH band-bucket caps plan skew-safe: groupBy + anti-join, no Window, bounded pairs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    // q45/q46/q369: the band-bucket cap must be a groupBy aggregate +
    // anti-join on the bucket key — the r12-verdict spelling. A Window
    // partitioned by (j,h)/(b,bv) would buffer a mass-duplicated
    // cluster's whole bucket on one task; unbounded buckets make the
    // candidate join quadratic per hot key.
    for (name <- Seq("q45_minhash_lsh", "q46_simhash", "q369_incremental_lsh")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(wins.isEmpty, s"$name must not window the band relation; found: $wins")
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Window ["),
        s"$name: no Window exec anywhere in:\n$physical")
      assert(physical.contains("LeftAnti"),
        s"$name: expected the over-cap anti-join in:\n$physical")
    }
    // Bound check on a degenerate corpus: every doc identical → every
    // band bucket holds all docs → all buckets over-cap → zero
    // candidate pairs, loudly flagged via overcap_buckets > 0.
    import spark.implicits._
    val docs = (0 until 200).map(i =>
      (i.toLong, "a b c d e f g h i j k l m n o p")).toDF("doc_id", "text")
    val bands = docs
      .select($"doc_id", xxhash64($"text").as("bv"), lit(0).as("b"))
    val bct = bands.groupBy($"b", $"bv").agg(count(lit(1)).as("bn"))
    val over = bct.filter($"bn" > 64).select($"b", $"bv")
    val kept = bands.join(graft.scale.GuardedBroadcast.maybe(over),
      Seq("b", "bv"), "left_anti")
    assert(kept.count() == 0, "a 200-doc identical cluster must be fully over-cap")
    assert(bct.filter($"bn" > 64).count() == 1, "exactly one over-cap bucket")
  }

  test("saltedJoin equals plain join on a skewed key") {
    import spark.implicits._
    // 10k rows of hot key 1 + tail
    val left = spark.range(10000).select(lit(1L).as("k"), $"id".as("lv"))
      .unionByName(spark.range(100).select(($"id" + 2).as("k"), $"id".as("lv")))
    val right = Seq((1L, "hot"), (2L, "cold"), (3L, "cool"))
      .toDF("k", "rv")
    val plain = left.join(right, Seq("k")).orderBy("k", "lv")
      .collect().map(_.toSeq).toSeq
    val salted = SkewOps.saltedJoin(left, right, "k", buckets = 8)
      .select("k", "lv", "rv").orderBy("k", "lv")
      .collect().map(_.toSeq).toSeq
    assert(salted == plain)
  }

  test("skewSplitJoin equals plain join with both hot and cold paths populated") {
    import spark.implicits._
    // key 1 is hot (5k rows), keys 2..51 are cold (20 rows each)
    val left = spark.range(5000).select(lit(1L).as("k"), $"id".as("lv"))
      .unionByName(spark.range(1000)
        .select(($"id" % 50 + 2).as("k"), $"id".as("lv")))
    val right = spark.range(60).select($"id".as("k"),
      concat(lit("r"), $"id").as("rv"))
    val plain = left.join(right, Seq("k")).orderBy("k", "lv")
      .collect().map(_.toSeq).toSeq
    val split = SkewOps.skewSplitJoin(left, right, "k",
        hotThreshold = 100, salts = 8)
      .select("k", "lv", "rv").orderBy("k", "lv")
      .collect().map(_.toSeq).toSeq
    assert(split == plain)
    // degenerate thresholds still agree: all-hot and all-cold
    for (th <- Seq(0L, 1000000L)) {
      val d = SkewOps.skewSplitJoin(left, right, "k", th, salts = 4)
        .select("k", "lv", "rv").orderBy("k", "lv")
        .collect().map(_.toSeq).toSeq
      assert(d == plain, s"threshold $th")
    }
  }

  test("salting splits a hot key into balanced (key, salt) groups") {
    import spark.implicits._
    // 32k rows of one hot key: unsalted, one reducer gets all 32k;
    // salted over 16 buckets, no (key, salt) group should exceed ~3×
    // the ideal 2k share (rand is uniform, the bound is generous)
    val left = spark.range(32000).select(lit(1L).as("k"), $"id".as("lv"))
    val salted = left.withColumn("__salt",
      (rand(seed = 42) * 16).cast("int"))
    val sizes = salted.groupBy("k", "__salt").count()
      .agg(max("count").as("mx"), count(lit(1)).as("groups"))
      .as[(Long, Long)].head()
    assert(sizes._2 == 16L, s"expected 16 salt groups, got ${sizes._2}")
    assert(sizes._1 <= 6000L,
      s"hot key not spread: max (key,salt) group = ${sizes._1}")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")

    Tables.t(s2, "/root/testdata/sf0.001", "orders")
      .write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    Tables.t(s2, "/root/testdata/sf0.001", "lineitem")
      .write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")

    val joined = s2.table("orders_b").join(s2.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
    val physical = joined.queryExecution.executedPlan.toString
    // both sides read pre-bucketed files: no shuffle exchange at all
    assert(!physical.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join, got:\n$physical")
    assert(joined.count() ==
      Tables.t(s2, "/root/testdata/sf0.001", "lineitem").count())
  }

  test("p-partitioned triple store answers pattern scans by partition pruning") {
    import graft.bgp.{BgpPlanner, TripleStore}
    val st = TripleStore.fromStarSchema(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-tri").toString + "/triples"
    TripleStore.writePartitioned(st, dir)

    // the inventory must be metadata-only: the directory listing, not
    // a data scan — count records read by any task during the load
    val (onDisk, load) = graft.tools.Profile.of(spark)(
      TripleStore.fromPartitionedParquet(spark, dir))
    assert(load.inputRecords == 0,
      s"predicate inventory read ${load.inputRecords} data records — " +
        "expected a pure directory-listing load")
    // slice-set equality also proves path-name unescaping (rdf:type
    // round-trips through p=rdf%3Atype)
    assert(onDisk.slices.keySet == st.slices.keySet)

    // the physical scan of one slice carries a partition filter on p
    val plan = onDisk.slices("contains").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "p#\\d+ = contains".r.findFirstIn(plan).isDefined,
      s"expected partition-pruned scan, got:\n$plan")

    // and BGP answers over the on-disk store match the derived store
    val q = "select ?o ?p where { ?o contains ?p . ?o status \"F\" }"
    val a = BgpPlanner.query(st, q).collect().map(_.toSeq).toSet
    val b = BgpPlanner.query(onDisk, q).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("v4 primary layout: subject joins run exchange-free AND sort-free, " +
      "constant subjects prune to one bucket") {
    import graft.bgp.{BgpPlanner, TripleStore}
    val st = TripleStore.fromStarSchema(spark, "/root/testdata/sf0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-v4").toString
    TripleStore.writePartitionedBucketed(
      st, s"$wh/spo", "graft_spo_spec_v4", buckets = Some(8))

    // a new session shares the catalog, so this reuses the entry the
    // write made (checked against the recorded count; the DDL path a
    // new JVM takes is the "re-registers through DDL" test below);
    // broadcast off forces the merge path the layout is built for
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s2.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val onDisk = TripleStore.fromBucketedTable(
      s2, s"$wh/spo", "graft_spo_spec_v4")

    // subject–subject join of two constant-predicate slices: both
    // sides are HashPartitioning(s, 8) from the bucket spec and
    // per-bucket sorted (one file per bucket), so the join needs
    // NEITHER an exchange NOR a sort — the property that removes the
    // data-sized shuffles from star/triangle BGPs at 100 TB
    val q = "select ?o ?p where { ?o contains ?p . ?o status \"F\" }"
    val joined = BgpPlanner.query(onDisk, q)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected exchange-free subject join, got:\n$plan")
    assert(!"Sort \\[".r.findFirstIn(plan).isDefined,
      s"expected sort-free subject join (bucket files are sorted), got:\n$plan")
    assert(plan.contains("PartitionFilters") &&
      "p#\\d+ = contains".r.findFirstIn(plan).isDefined,
      s"expected partition-pruned slice scans, got:\n$plan")
    val expected = BgpPlanner.query(st, q).collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet == expected && expected.nonEmpty)

    // constant-subject variable-predicate probe: the same table serves
    // the SOP role — one bucket per partition, no slice union
    val probe = BgpPlanner.query(onDisk,
      "select ?p ?o where { <customer:17> ?p ?o }")
    val probePlan = probe.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: 1 out of 8".r.findFirstIn(probePlan).isDefined,
      s"expected bucket-pruned scan, got:\n$probePlan")
    assert(probe.collect().map(_.toSeq).toSet ==
      BgpPlanner.query(st, "select ?p ?o where { <customer:17> ?p ?o }")
        .collect().map(_.toSeq).toSet)
  }

  test("OPS secondary: a lone constant-object probe reads one bucket; " +
      "a joined subject keeps the s-layout's exchange-free path") {
    import graft.bgp.{BgpPlanner, TripleStore}
    val st = TripleStore.fromStarSchema(spark, "/root/testdata/sf0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-ops").toString
    TripleStore.writePartitionedBucketed(
      st, s"$wh/spo", "graft_spo_spec_ops_p", buckets = Some(8))
    TripleStore.writePartitionedBucketed(
      st, s"$wh/ops", "graft_spo_spec_ops_o", buckets = Some(8),
      bucketCol = "o")
    // a new session shares the catalog: both tables re-register from
    // the entries the writes made, checked against the recorded counts
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s2.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val onDisk = TripleStore.fromBucketedTable(
      s2, s"$wh/spo", "graft_spo_spec_ops_p")
      .copy(oBucketed = Some(TripleStore.registerPartitionedBucketed(
        s2, s"$wh/ops", "graft_spo_spec_ops_o", bucketCol = "o")))

    // lone o-constant pattern: subject joins nothing -> OPS table,
    // bucket-pruned on the OBJECT filter
    val q = "select ?s where { ?s nationkey <nation:7> }"
    val probe = BgpPlanner.query(onDisk, q)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("graft_spo_spec_ops_o") &&
      "SelectedBucketsCount: 1 out of 8".r.findFirstIn(plan).isDefined,
      s"expected a bucket-pruned OPS scan, got:\n$plan")
    assert(probe.collect().map(_.toSeq).toSet ==
      BgpPlanner.query(st, q).collect().map(_.toSeq).toSet)
    assert(probe.count() > 0)

    // the same o-constant pattern whose subject JOINS another pattern:
    // the s-layout wins (co-partitioned merge join, zero exchange) —
    // OPS must NOT hijack the scan
    val qj = "select ?o ?p where { ?o contains ?p . ?o status \"F\" }"
    val joined = BgpPlanner.query(onDisk, qj)
    val jplan = joined.queryExecution.executedPlan.toString
    assert(!jplan.contains("graft_spo_spec_ops_o"),
      s"joined-subject pattern must stay on the s-layout, got:\n$jplan")
    assert(!jplan.contains("Exchange hashpartitioning"),
      s"expected the exchange-free subject join to survive OPS:\n$jplan")

    // CROSS-BLOCK consumer: the o-constant pattern is alone in its own
    // block, but an OPTIONAL block consumes its subject var — the
    // s-layout must still win (the OPS dispatch's join-awareness spans
    // the whole query, not just siblings)
    val qo = "select ?c ?m where { ?c nationkey <nation:7> . " +
      "optional { ?c mktsegment ?m } }"
    val opt = BgpPlanner.query(onDisk, qo)
    val oplan = opt.queryExecution.executedPlan.toString
    assert(!oplan.contains("graft_spo_spec_ops_o"),
      s"OPTIONAL-consumed subject must stay on the s-layout, got:\n$oplan")
    assert(opt.collect().map(_.toSeq).toSet ==
      BgpPlanner.query(st, qo).collect().map(_.toSeq).toSet)
    assert(opt.count() > 0)
  }

  test("a sized layout re-registers through DDL as in a new JVM; a " +
      "missing or edited bucket-count record throws") {
    import graft.bgp.{BgpPlanner, TripleStore}
    import java.nio.file.{Files, Paths}
    // a scan split far below the layout's bytes engages the volume arm
    // of the sizing rule: more buckets than cores
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    val st = TripleStore.fromStarSchema(s2, "/root/testdata/sf0.001")
    val wh = Files.createTempDirectory("graft-ddl").toString
    val (spo, ops) = (s"$wh/spo", s"$wh/ops")
    val (spoT, opsT) = ("graft_spo_spec_ddl", "graft_ops_spec_ddl")
    TripleStore.writePartitionedBucketed(st, spo, spoT)
    TripleStore.writePartitionedBucketed(st, ops, opsT, bucketCol = "o")
    val n = TripleStore.recordedBuckets(s2, spo)
    assert(n > s2.sparkContext.defaultParallelism,
      s"expected the byte arm to size past the core count, got $n")
    assert(TripleStore.recordedBuckets(s2, ops) == n)

    // a new JVM has no catalog entry: drop the tables (external — the
    // files stay) so registration runs the DDL with the recorded count
    def reload(): TripleStore = {
      Seq(spoT, opsT).foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
      TripleStore.fromBucketedTable(s2, spo, spoT).copy(oBucketed = Some(
        TripleStore.registerPartitionedBucketed(s2, ops, opsT, bucketCol = "o")))
    }
    val onDisk = reload()
    def check(q: String, table: String): Unit = {
      val df = BgpPlanner.query(onDisk, q)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(table) &&
        plan.contains(s"SelectedBucketsCount: 1 out of $n"),
        s"expected a one-bucket scan of $table for $q, got:\n$plan")
      val expected = BgpPlanner.query(st, q).collect().map(_.toSeq).toSet
      assert(df.collect().map(_.toSeq).toSet == expected && expected.nonEmpty, q)
    }
    Seq("<customer:17>", "<order:5>", "<nation:7>", "<supplier:3>")
      .foreach(c => check(s"select ?p ?o where { $c ?p ?o }", spoT))
    Seq("nationkey <nation:7>", "custkey <customer:17>",
        "regionkey <region:1>")
      .foreach(po => check(s"select ?s where { ?s $po }", opsT))

    val record = Paths.get(spo, TripleStore.BucketCountFile)
    Files.delete(record)
    intercept[IllegalArgumentException](reload())
    // the edits below rewrite the bare file; drop the local filesystem's
    // checksum sidecar so the read reaches the count instead of failing
    // on the checksum
    Files.deleteIfExists(Paths.get(spo, s".${TripleStore.BucketCountFile}.crc"))
    // an edited count: the files' rows no longer hash into it
    Files.writeString(record, (n + 1).toString)
    intercept[IllegalArgumentException](reload())
    Files.writeString(record, (n - 1).toString)
    intercept[IllegalArgumentException](reload())
    // an existing catalog entry that disagrees with the record
    Files.writeString(record, n.toString)
    reload()
    Files.writeString(record, (n + 1).toString)
    intercept[IllegalArgumentException](
      TripleStore.fromBucketedTable(s2, spo, spoT))
  }

  test("v4 encoded store: the variable view keeps bucket pruning — " +
      "xxhash64 over the partition column, not a slice union") {
    import graft.bgp.{BgpPlanner, TripleStore}
    val st = TripleStore.fromStarSchema(spark, "/root/testdata/sf0.001")
    val enc = TripleStore.encode(st)
    val wh = java.nio.file.Files.createTempDirectory("graft-v4e").toString
    TripleStore.writePartitionedBucketed(
      enc, s"$wh/spo", "graft_spo_spec_v4e", buckets = Some(8))
    val onDisk = TripleStore.fromBucketedTable(
      spark, s"$wh/spo", "graft_spo_spec_v4e",
      idType = "BIGINT").copy(dict = enc.dict)

    val q = "select ?p ?o where { <customer:17> ?p ?o }"
    val probe = BgpPlanner.query(onDisk, q)
    val plan = probe.queryExecution.executedPlan.toString
    // one bucket-pruned scan of the table, never the N-way union the
    // encoded form paid before this round
    assert("SelectedBucketsCount: 1 out of 8".r.findFirstIn(plan).isDefined,
      s"expected bucket-pruned encoded probe, got:\n$plan")
    // ONE scan of the bucketed table, never the N-way slice union the
    // encoded form paid before this round (the dict's own in-memory
    // vocab lineage may contain unions — count table scans, not the
    // Union keyword)
    assert("graft_spo_spec_v4e".r.findAllIn(plan).size == 1,
      s"encoded variable view must read the table once, not per slice:\n$plan")
    // values identical to the in-memory encoded store (both decode
    // through the same dict)
    assert(probe.collect().map(_.toSeq).toSet ==
      BgpPlanner.query(enc, q).collect().map(_.toSeq).toSet)
    assert(probe.count() == 4)
  }

  test("encoded store reads persisted dict + encoded slices, no per-session re-derivation") {
    val df = SparkEntry.queries("q33_bgp_dict_encoded")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // decode joins the persisted id-bucketed dict table; the encoded
    // slices come partition-pruned from the on-disk encoded layout
    assert(plan.contains("graft_dict_"),
      s"expected a persisted-dict table scan in:\n$plan")
    assert(df.count() > 0)
  }

  test("negated property set pushes Not(EqualTo) filters into the scan") {
    val df = SparkEntry.queries("q109_bgp_neg_path")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // one scan of the variable view with the exclusion pushed down —
    // NOT an (N−k)-way union of the remaining predicate slices. On the
    // v4 primary layout `p` is a partition column, so the exclusions
    // land in partitionFilters (whole directories pruned, stronger
    // than a row-level pushed filter). Inspect the scan nodes directly
    // (sparkPlan, pre-AQE): the rendered string truncates long filter
    // lists, so string-matching the plan is flaky.
    val scanFilters = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        (f.partitionFilters ++ f.dataFilters).map(_.sql)
    }.flatten
    def excluded(p: String) = scanFilters.exists(s =>
      s.contains("NOT") && s.contains(p))
    assert(excluded("custkey") && excluded("nextorder"),
      s"expected the predicate exclusion pushed into the scan, got " +
        s"filters $scanFilters in:\n$plan")
    assert(!plan.contains("Union"),
      s"negated set must not plan as a slice union:\n$plan")
    assert(df.count() > 0)
  }

  test("IVF multi-probe bounds the top-k with WindowGroupLimit and broadcasts probes") {
    val df = SparkEntry.queries("q117_ivf_multiprobe")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected per-partition top-k pre-limit in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the probe set broadcast onto the corpus in:\n$plan")
    assert(df.count() > 0)
  }

  test("VALUES restriction reaches the parquet scan as a pushed IN filter") {
    val df = SparkEntry.queries("q90_bgp_values")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the OR-of-equalities folds to an In() and pushes into the scan
    assert(plan.contains("PushedFilters") &&
      (plan.contains("In(o,") || plan.contains("Or(EqualTo(o,")),
      s"expected the VALUES IN filter pushed into the scan in:\n$plan")
    assert(df.count() > 0)
  }

  test("SPARQL aggregates plan as partial-aggregated groupBy") {
    val df = SparkEntry.queries("q76_bgp_aggregate")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // partial functions below the exchange = map-side combine (string
    // min plans as SortAggregate, so match the functions, not the node)
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      s"expected map-side partial aggregation in:\n$plan")
    assert(df.count() > 0)
  }

  test("headline plans push filters into the parquet scan") {
    val df = SparkEntry.queries("q03_shipping_priority")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"),
      "expected parquet-level pushed filters")
  }

  test("native range join plans as the merge exec, no candidate-pair join") {
    val df = SparkEntry.queries("q93_range_native")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RangeJoin"), s"expected RangeJoin exec in:\n$plan")
    // the composed spelling's shape: an equi hash join whose per-key
    // candidate pairs are post-filtered on the time bounds
    assert(!plan.contains("HashJoin"), s"unexpected hash join in:\n$plan")
    assert(df.count() > 0)
  }

  test("sequence packing keeps every data-sized window partitioned") {
    val df = SparkEntry.queries("q95_sequence_pack")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the per-block cumsum partitions by block; the only global-order
    // window runs over block SUMS (one row per 100 docs). A data-sized
    // global window would show a single-partition Exchange feeding a
    // Window over the documents scan. DISTINCT lines: the guarded
    // broadcast persists the block-sum relation, and the cached plan's
    // definition prints a second, textually identical copy of its
    // Window inside InMemoryRelation.
    val windowSpecs = "Window \\[[^\\n]*".r.findAllIn(plan).toSet.size
    assert(windowSpecs == 2, s"expected exactly 2 distinct Window nodes in:\n$plan")
    assert(plan.contains("windowspecdefinition(b#"),
      s"expected the within-block window partitioned by block in:\n$plan")
    assert(df.count() > 0)
  }

  test("encoded-store regex filter plans as dict-filter + semi join") {
    val df = SparkEntry.queries("q126_bgp_regex_encoded")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the predicate evaluates during the dict scan; the solution side
    // joins on 8-byte ids and never materializes the filtered strings
    assert(plan.contains("LeftSemi"),
      s"expected the lexical filter as a dict semi join in:\n$plan")
    assert(df.count() > 0)
  }

  test("guarded broadcast measures the set and falls back to shuffle join") {
    // isolated session: the threshold flips must not race suites that
    // share the cached session
    val s2 = spark.newSession()
    import s2.implicits._
    val dim = s2.range(500)
      .select($"id".as("k"), concat(lit("v"), $"id").as("v"))
    val fact = s2.range(5000).select(($"id" % 500).as("k"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    // generous threshold: the measured set fits, hint applies
    s2.conf.set(key, "10MB")
    val wide = fact.join(graft.scale.GuardedBroadcast.maybe(dim), Seq("k"))
    assert(wide.queryExecution.executedPlan.toString.contains("Broadcast"),
      "expected the broadcast hint under a generous threshold")
    // 1-byte threshold: nothing fits — the guard withholds the hint
    // and the SAME query runs as a shuffle join with equal results
    s2.conf.set(key, "1")
    val narrow = fact.join(graft.scale.GuardedBroadcast.maybe(dim), Seq("k"))
    assert(!narrow.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "expected the guard to withhold the broadcast hint")
    val a = wide.groupBy($"k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = narrow.groupBy($"k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.size == 500)
  }

  test("guarded broadcast measures a driver-local relation on the driver") {
    import graft.scale.GuardedBroadcast
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val s2 = spark.newSession()
    import s2.implicits._
    // a LocalRelation: the rows of an INSERT/DELETE DATA take this shape
    val dim = (0L until 500L).map(i => (i, s"v$i")).toDF("k", "v")
    val fact = s2.range(5000).select(($"id" % 500).as("k"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case h: ResolvedHint => h.hints.strategy
      }.contains(Some(BROADCAST))
    s2.conf.set(key, "10MB")
    val memo = GuardedBroadcast.memoSize
    val (guarded, measured) = graft.tools.Profile.of(s2)(GuardedBroadcast.maybe(dim))
    assert(hinted(guarded), "expected the broadcast hint under 10MB")
    assert(measured.jobs == 0, s"measuring a LocalRelation ran ${measured.jobs} jobs")
    assert(GuardedBroadcast.memoSize == memo, "a LocalRelation took a memo entry")
    val wide = fact.join(guarded, Seq("k"))
    // 1-byte threshold: the same relation measures over it, no hint
    s2.conf.set(key, "1")
    val unguarded = GuardedBroadcast.maybe(dim)
    assert(!hinted(unguarded), "expected no hint under a 1-byte threshold")
    assert(GuardedBroadcast.memoSize == memo)
    val narrow = fact.join(unguarded, Seq("k"))
    def counts(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.groupBy($"k").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (a, b) = (counts(wide), counts(narrow))
    assert(a == b && a.size == 500)
  }

  test("funnel stages run through the native RangeJoin, no candidate-pair join") {
    val df = SparkEntry.queries("q122_event_funnel")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // both funnel stages are the O(n+m) merge exec — the composable
    // hash-join + time-filter spelling would materialize V×C pairs
    // per hot user before the min-aggregate
    assert("RangeJoin".r.findAllIn(plan).size >= 2,
      s"expected both funnel stages as RangeJoin execs in:\n$plan")
    assert(!plan.contains("HashJoin") && !plan.contains("SortMergeJoin"),
      s"unexpected candidate-pair join in:\n$plan")
    assert(df.count() > 0)
  }

  test("overlap-join outage derivation has no partition-less data window") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("q125_overlap_join")(
      spark, "/root/testdata/sf0.001")
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w }
    // error sessionization is sharded by day, user sessionization by
    // user — a global Window.orderBy would sort ALL events on one
    // reducer and becomes the straggler at a constant error RATE
    assert(wins.nonEmpty, "expected window nodes in the overlap join")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"partition-less window over data-sized input:\n$w")
    }
    assert(df.count() > 0)
  }

  test("embedding outlier top-k bounds the window shuffle (WindowGroupLimit)") {
    val df = SparkEntry.queries("q96_embedding_outliers")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pre-limiting the top-5 in:\n$plan")
    assert(df.count() > 0)
  }

  test("token-budget fill bands its per-language running sum") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("q205_token_budget_fill")(
      spark, "/root/testdata/sf0.001")
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w }
    // a naive greedy fill windows on lang alone, putting ALL of a
    // dominant language in one task; the two-phase spelling's only
    // data-sized window partitions on (lang, band), and the
    // lang-only window runs over the band-count-sized aggregate
    assert(wins.nonEmpty, "expected window nodes in the budget fill")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"partition-less window over data-sized input:\n$w")
    }
    assert(wins.exists(_.partitionSpec.size == 2),
      "expected the data-sized running sum partitioned by (lang, band)")
    assert(df.count() > 0)
  }

  test("dataset layout: GRAPH blocks prune the quads scan on (g, p) partitions") {
    import graft.bgp.{BgpPlanner, SparqlUpdate, TripleStore}
    val base = TripleStore.fromTriples(spark.createDataFrame(
      Seq(("a:1", "rel", "a:2"), ("a:2", "rel", "a:3"))).toDF("s", "p", "o"))
    val withQuads = SparqlUpdate.applyAll(spark, base,
      "INSERT DATA { GRAPH <g:x> { <b:1> <knows> <b:2> . " +
        "<b:1> <likes> <b:3> } } ;\n" +
        "INSERT DATA { GRAPH <g:y> { <b:9> <knows> <b:8> } }")
    val dir = java.nio.file.Files.createTempDirectory("graft-dataset").toString
    TripleStore.writeDataset(withQuads, dir)
    val onDisk = TripleStore.fromDatasetParquet(spark, dir)
    // constant graph + constant predicate = double partition pruning
    val df = BgpPlanner.query(onDisk,
      "select ?s ?o where { graph <g:x> { ?s <knows> ?o } }")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "g#\\d+ = g:x".r.findFirstIn(plan).isDefined &&
      "p#\\d+ = knows".r.findFirstIn(plan).isDefined,
      s"expected (g, p) partition pruning on the quads scan:\n$plan")
    assert(df.collect().map(r =>
      (r.getAs[String]("s"), r.getAs[String]("o"))).toSet ==
      Set(("b:1", "b:2")))
    // the default graph loads alongside and still answers by pruning
    assert(BgpPlanner.query(onDisk,
      "select ?s ?o where { ?s <rel> ?o }").count() == 2)
    // a variable-predicate dump of one graph prunes to its g= subtree
    val dump = BgpPlanner.query(onDisk,
      "select ?s ?p ?o where { graph <g:y> { ?s ?p ?o } }")
    val dplan = dump.queryExecution.executedPlan.toString
    assert("g#\\d+ = g:y".r.findFirstIn(dplan).isDefined,
      s"expected g-pruned dump scan:\n$dplan")
    assert(dump.collect().map(r => (r.getAs[String]("s"),
      r.getAs[String]("p"), r.getAs[String]("o"))).toSet ==
      Set(("b:9", "knows", "b:8")))
  }

  test("fromTriples persist rides a bounded memo: repeated builds reuse " +
      "one handle, distinct builds evict instead of leaking") {
    import graft.bgp.TripleStore
    val before = spark.sparkContext.getPersistentRDDs.size
    // same plan 5x -> one persisted handle (the memo hit), not five
    val src = spark.createDataFrame(Seq(
      ("a", "knows", "b"), ("b", "knows", "c"))).toDF("s", "p", "o")
    (1 to 5).foreach(_ => TripleStore.fromTriples(src))
    val afterSame = spark.sparkContext.getPersistentRDDs.size
    assert(afterSame - before <= 1,
      s"identical fromTriples sources must share one persisted handle, " +
        s"grew by ${afterSame - before}")
    // more DISTINCT plans than the guard kind holds -> its cap bounds
    // the pinned blocks; eviction unpersists, so growth stays at/below
    // the cap
    val cap = graft.scale.Derived.Guard.cap
    (1 to cap + 8).foreach { i =>
      val d = spark.createDataFrame(Seq((s"s$i", "p", s"o$i")))
        .toDF("s", "p", "o")
      TripleStore.fromTriples(d)
    }
    val afterMany = spark.sparkContext.getPersistentRDDs.size
    assert(afterMany - before <= cap + 1,
      s"fromTriples persists must stay memo-bounded, grew by " +
        s"${afterMany - before}")
  }

  test("same-path reload after overwrite re-scans; Derived.clear " +
      "unpersists memo handles") {
    import graft.bgp.{BgpPlanner, TripleStore}
    val dir = java.nio.file.Files.createTempDirectory("graft-reload")
      .toString
    def writeRows(rows: Seq[(String, String, String)]): Unit =
      spark.createDataFrame(rows).toDF("s", "p", "o")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    def names(st: TripleStore): Set[String] =
      BgpPlanner.query(st, "select ?n where { ?s name ?n }")
        .collect().map(_.getString(0)).toSet
    writeRows(Seq(("x:1", "name", "old")))
    assert(names(TripleStore.fromTriples(spark.read.parquet(dir))) ==
      Set("old"))
    // overwrite the files behind the SAME path: a fresh read's
    // canonicalized plan snapshots the NEW file listing, so the memo
    // key differs and the reload re-scans — no stale serve
    writeRows(Seq(("x:1", "name", "new")))
    assert(names(TripleStore.fromTriples(spark.read.parquet(dir))) ==
      Set("new"))
    // the memo's clear hook drops (and unpersists) every memoized
    // source handle — lifecycle control for long sessions
    val before = spark.sparkContext.getPersistentRDDs.size
    graft.scale.Derived.clear()
    assert(spark.sparkContext.getPersistentRDDs.size < before ||
      before == 0)
    // and the next load after invalidation still answers correctly
    assert(names(TripleStore.fromTriples(spark.read.parquet(dir))) ==
      Set("new"))
  }

  test("Tables.t lists a table rewritten in place again, in the same session") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    def write(keys: Seq[Long]): Unit = keys.toDF("o_orderkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    def keys: Set[Long] = Tables.t(spark, dir, "orders").as[Long].collect().toSet
    write(Seq(1L, 2L))
    assert(keys == Set(1L, 2L))
    write(Seq(3L))
    assert(keys == Set(3L), "a memoized plan served the old file listing")
  }
}
