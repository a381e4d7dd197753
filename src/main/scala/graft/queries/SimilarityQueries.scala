package graft.queries

import graft.scale.{Derived, GuardedBroadcast}
import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: array<float>, label): brute-force cosine top-k as the
  * baseline and an IVF-style bucketed variant as the scale path.
  * LLM-pipeline extensions (SURVEY.md §7.1.8) — absent from the
  * reference, whose only value-level op is 64-bit equality
  * (BasicHashJoin.cpp:599).
  *
  * Scale design:
  *  - the query set is small and broadcast; the corpus is scanned once
  *    (brute force = one broadcast-nested-loop over the corpus, the
  *    correct baseline at any scale);
  *  - the IVF variant joins on the cluster label, so the search is
  *    partition-pruned: shuffle on label, rank within the bucket —
  *    at 100 TB only same-cluster pairs ever meet;
  *  - dot products run inside codegen'd higher-order functions
  *    (zip_with/aggregate), no UDFs.
  *
  * Cross-engine determinism: float math diverges between engines, so
  * embeddings are quantized to exact integers (floor(x·10⁴ + ½) per
  * element — float→double conversion is exact, floor is exact, and
  * integer dot products/norms are order-independent). The final
  * cosine is a single identical IEEE divide/sqrt on exact integers.
  */
object SimilarityQueries {

  import Tables.t

  /** Embeddings with 4-decimal integer quantization + integer norm. */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      col("label"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 10000 + 0.5) as bigint))")
        .as("v"))
      .withColumn("nrm",
        expr("aggregate(transform(v, x -> x * x), cast(0 as bigint), (a, x) -> a + x)"))

  private val quantizedSql =
    """e AS (SELECT vec_id, label,
      |        list_transform(embedding,
      |          x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS v
      |      FROM embeddings),
      |flat AS (SELECT vec_id, label,
      |           unnest(generate_series(1, len(v))) AS i, unnest(v) AS x
      |         FROM e),
      |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nrm
      |        FROM flat GROUP BY 1)""".stripMargin

  /** Integer dot product of two quantized vectors — the native
    * codegen'd expression (one fused loop, no intermediate array);
    * exact integer math, so bit-identical to the
    * `aggregate(zip_with(...))` composition it replaced.
    */
  private def dot(a: String, b: String): Column =
    expr(s"dot_i64($a, $b)")

  /** nq·nc can overflow int64 (≈(6e10)² ≈ 3.6e21), so take sqrts first;
    * int64→double is exact below 2^53 and IEEE sqrt/divide are
    * deterministic.
    */
  private def cosine(dotCol: Column, n1: Column, n2: Column): Column =
    dotCol.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))

  def all: Seq[GQuery] = Seq(

    // brute-force cosine top-5 for 20 query vectors over the corpus
    GQuery(
      "q47_cosine_topk",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
        val c = e.select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cn"))
        val scored = c.join(GuardedBroadcast.maybe(q), $"cid" =!= $"qid")
          .select($"qid", $"cid", cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 5)
      },
      Some(s"""WITH $quantizedSql,
              |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
              |           CAST(sum(q.x * c.x) AS BIGINT) AS dot
              |         FROM flat q JOIN flat c ON c.i = q.i AND c.vec_id <> q.vec_id
              |         WHERE q.vec_id < 20 GROUP BY 1, 2),
              |scored AS (SELECT qid, cid,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
              |  FROM dots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nc ON nc.vec_id = cid)
              |SELECT qid, cid, cos_sim, rank FROM (
              |  SELECT qid, cid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank
              |  FROM scored)
              |WHERE rank <= 5""".stripMargin),
      headline = true),

    // IVF-style search: cluster assignment is precomputed (the label
    // column = the coarse quantizer), probe=1 — rank only within the
    // query's own cluster
    GQuery(
      "q48_ivf_topk",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"label", $"v".as("qv"), $"nrm".as("qn"))
        val c = e.select($"vec_id".as("cid"), $"label", $"v".as("cv"), $"nrm".as("cn"))
        val scored = c.join(GuardedBroadcast.maybe(q), Seq("label"))
          .filter($"cid" =!= $"qid")
          .select($"qid", $"label", $"cid",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 3)
      },
      Some(s"""WITH $quantizedSql,
              |lbl AS (SELECT vec_id, label FROM embeddings),
              |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.label,
              |           CAST(sum(q.x * c.x) AS BIGINT) AS dot
              |         FROM flat q JOIN flat c
              |           ON c.i = q.i AND c.label = q.label AND c.vec_id <> q.vec_id
              |         WHERE q.vec_id < 20 GROUP BY 1, 2, 3),
              |scored AS (SELECT qid, label, cid,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
              |  FROM dots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nc ON nc.vec_id = cid)
              |SELECT qid, label, cid, cos_sim, rank FROM (
              |  SELECT qid, label, cid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank
              |  FROM scored)
              |WHERE rank <= 3""".stripMargin)),

    // IVF multi-probe (the real IVF search shape): rank the coarse
    // cells by query→centroid similarity and search the best TWO, not
    // just the query's own cell — recall recovers for queries near a
    // cell boundary while the scan stays bucket-pruned. Centroids are
    // componentwise integer sums (exact, order-independent), so the
    // probe ranking is cross-engine deterministic; probe sets are
    // query-count-sized and broadcast.
    GQuery(
      "q117_ivf_multiprobe",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val flat = e.select($"vec_id", $"label",
            posexplode($"v").as(Seq("i", "x")))
        val cs = flat.groupBy($"label", $"i").agg(sum($"x").as("cx"))
        val csn = cs.groupBy($"label")
          .agg(sum($"cx" * $"cx").as("cnrm"))
        val qset = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
        val pd = flat.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"i", $"x")
          .join(cs, Seq("i"))
          .groupBy($"qid", $"label")
          .agg(sum($"x" * $"cx").as("cdot"))
        val ps = pd
          .join(qset.select($"qid", $"qn"), Seq("qid"))
          .join(csn, Seq("label"))
          .select($"qid", $"label",
            cosine($"cdot", $"qn", $"cnrm").as("cscore"))
        val pw = Window.partitionBy($"qid").orderBy($"cscore".desc, $"label".asc)
        val probes = ps.withColumn("pr", row_number().over(pw))
          .filter($"pr" <= 2).select($"qid", $"label")
        val c = e.select($"vec_id".as("cid"), $"label", $"v".as("cv"),
          $"nrm".as("cn"))
        // probe set is (queries × probes)-sized by construction; the
        // guard still measures it and shuffle-joins if a caller ever
        // widens the probe fan-out past the broadcast threshold
        val scored = c
          .join(graft.scale.GuardedBroadcast.maybe(probes.join(qset, Seq("qid"))),
            Seq("label"))
          .filter($"cid" =!= $"qid")
          .select($"qid", $"cid",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 3)
      },
      Some(s"""WITH $quantizedSql,
              |cs AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS cx
              |       FROM flat GROUP BY 1, 2),
              |csn AS (SELECT label, CAST(sum(cx * cx) AS BIGINT) AS cnrm
              |        FROM cs GROUP BY 1),
              |pd AS (SELECT f.vec_id AS qid, cs.label,
              |         CAST(sum(f.x * cs.cx) AS BIGINT) AS cdot
              |       FROM flat f JOIN cs ON cs.i = f.i
              |       WHERE f.vec_id < 20 GROUP BY 1, 2),
              |ps AS (SELECT qid, pd.label,
              |    CAST(cdot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(csn.cnrm AS DOUBLE))) AS cscore
              |  FROM pd JOIN nrm nq ON nq.vec_id = qid
              |  JOIN csn ON csn.label = pd.label),
              |probes AS (SELECT qid, label FROM (
              |    SELECT qid, label,
              |      row_number() OVER (PARTITION BY qid ORDER BY cscore DESC, label) AS pr
              |    FROM ps)
              |  WHERE pr <= 2),
              |dots AS (SELECT p.qid, c.vec_id AS cid,
              |           CAST(sum(qf.x * c.x) AS BIGINT) AS dot
              |         FROM probes p
              |         JOIN flat c ON c.label = p.label
              |         JOIN flat qf ON qf.vec_id = p.qid AND qf.i = c.i
              |         WHERE c.vec_id <> p.qid
              |         GROUP BY 1, 2),
              |scored AS (SELECT qid, cid,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
              |  FROM dots JOIN nrm nq ON nq.vec_id = qid
              |  JOIN nrm nc ON nc.vec_id = cid)
              |SELECT qid, cid, cos_sim, rank FROM (
              |  SELECT qid, cid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank
              |  FROM scored)
              |WHERE rank <= 3""".stripMargin)),

    // embedding-cosine near-dup scan: candidates = same-cluster pairs
    // (bucket join, never all-pairs); emit each vector's closest
    // neighbor — a dedup pipeline thresholds this output, but the
    // synthetic corpus has no true near-dups (max within-cluster cosine
    // ≈ 0.45), so the top-1 form keeps the query observable at any sf
    GQuery(
      "q49_embedding_neardup",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val a = e.select($"vec_id".as("d1"), $"label", $"v".as("v1"), $"nrm".as("n1"))
        val b = e.select($"vec_id".as("d2"), $"label", $"v".as("v2"), $"nrm".as("n2"))
        val scored = a.join(b, Seq("label"))
          .filter($"d1" =!= $"d2")
          .select($"d1", $"d2", cosine(dot("v1", "v2"), $"n1", $"n2").as("cos_sim"))
        val w = Window.partitionBy($"d1").orderBy($"cos_sim".desc, $"d2".asc)
        scored.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1).drop("rn")
      },
      Some(s"""WITH $quantizedSql,
              |dots AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
              |           CAST(sum(a.x * b.x) AS BIGINT) AS dot
              |         FROM flat a JOIN flat b
              |           ON b.i = a.i AND b.label = a.label AND a.vec_id <> b.vec_id
              |         GROUP BY 1, 2),
              |scored AS (SELECT d1, d2,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(n1.nrm AS DOUBLE)) * sqrt(CAST(n2.nrm AS DOUBLE))) AS cos_sim
              |  FROM dots JOIN nrm n1 ON n1.vec_id = d1 JOIN nrm n2 ON n2.vec_id = d2)
              |SELECT d1, d2, cos_sim FROM (
              |  SELECT d1, d2, cos_sim,
              |    row_number() OVER (PARTITION BY d1 ORDER BY cos_sim DESC, d2) AS rn
              |  FROM scored)
              |WHERE rn = 1""".stripMargin)),

    // raw-float brute-force top-k through the native codegen'd
    // cosine_sim Expression (GraftExtensions) — the production fast
    // path. The expression widens each float to double BEFORE the
    // multiply-accumulate (CosineSimilarity.doGenCode), so a
    // double-math oracle over the same float column agrees to ~1e-15;
    // the exported score quantizes to 6 decimals (OracleNum
    // discipline), far above the summation-order noise floor, making
    // the whole result hashable. FunctionsSpec additionally proves
    // bit-parity against the composed zip_with/aggregate form.
    GQuery(
      "q56_cosine_topk_native",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"embedding".as("qv"))
        val c = e.select($"vec_id".as("cid"), $"embedding".as("cv"))
        val scored = c.join(GuardedBroadcast.maybe(q), $"cid" =!= $"qid")
          .select($"qid", $"cid", expr("cosine_sim(qv, cv)").as("cos_sim"))
        val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 5)
          .select($"qid", $"cid", $"rank",
            (floor($"cos_sim" * 1000000d + 0.5d) / 1000000d).as("q_sim"))
      },
      Some("""WITH p AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
             |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
             |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cs
             |  FROM embeddings q JOIN embeddings c
             |    ON q.vec_id < 20 AND c.vec_id != q.vec_id),
             |r AS (
             |  SELECT qid, cid, cs, CAST(row_number() OVER (
             |      PARTITION BY qid ORDER BY cs DESC, cid) AS BIGINT) AS rank
             |  FROM p)
             |SELECT qid, cid, rank, floor(cs * 1000000 + 0.5) / 1000000 AS q_sim
             |FROM r WHERE rank <= 5""".stripMargin)),

    // SRP-LSH (signed random projection): bucket = sign bits of dot
    // products with 8 md5-derived ±1 hyperplanes; candidates share the
    // bucket, then exact quantized cosine ranks within it. The pure
    // LSH scale path (no precomputed clusters), deterministic in both
    // engines because the hyperplanes are hash-derived ±1 vectors and
    // all dots are exact integers.
    GQuery(
      "q66_srp_lsh_topk",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        // plane j, dim i sign = +1 if md5("j:i") first hex nibble even.
        // The 8x64 sign matrix is a CONSTANT — computed once on the
        // driver (512 md5 calls, metadata-sized) and embedded as a
        // literal, instead of the round-5 spelling that re-derived all
        // 512 md5s per ROW (the registry sweep's #2 hotspot: ~10M md5
        // calls at sf0.1 for an unchanging matrix)
        val md = java.security.MessageDigest.getInstance("MD5")
        val signs: Seq[Seq[Int]] = (0 to 7).map(j => (0 to 63).map { i =>
          val d = md.digest(s"$j:$i".getBytes("UTF-8"))
          if (((d(0) >> 4) & 0xF) % 2 == 0) 1 else -1
        })
        val bucketed = e.withColumn("planes", typedLit(signs))
          .withColumn("bucket",
            expr("""aggregate(sequence(0, 7), cast(0 as bigint), (acc, j) ->
                   |  acc * 2 + CASE WHEN aggregate(zip_with(v, element_at(planes, j + 1),
                   |    (x, sg) -> x * sg), cast(0 as bigint), (a, t) -> a + t) > 0
                   |  THEN 1 ELSE 0 END)""".stripMargin))
          .drop("planes")
        val q = bucketed.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"bucket", $"v".as("qv"), $"nrm".as("qn"))
        val c = bucketed.select($"vec_id".as("cid"), $"bucket", $"v".as("cv"), $"nrm".as("cn"))
        val scored = c.join(GuardedBroadcast.maybe(q), Seq("bucket"))
          .filter($"cid" =!= $"qid")
          .select($"qid", $"bucket", $"cid",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 3)
      },
      Some(s"""WITH $quantizedSql,
              |planes AS (SELECT j.j, i.i,
              |    CASE WHEN CAST(concat('0x', substr(md5(concat(j.j, ':', i.i)), 1, 1)) AS BIGINT) % 2 = 0
              |         THEN 1 ELSE -1 END AS sg
              |  FROM (SELECT unnest(generate_series(0, 7)) AS j) j,
              |       (SELECT unnest(generate_series(0, 63)) AS i) i),
              |bits AS (SELECT f.vec_id, p.j,
              |    CASE WHEN sum(f.x * p.sg) > 0 THEN 1 ELSE 0 END AS bit
              |  FROM flat f JOIN planes p ON p.i = f.i - 1
              |  GROUP BY 1, 2),
              |bk AS (SELECT vec_id, CAST(sum(bit * (CAST(1 AS BIGINT) << (7 - j))) AS BIGINT) AS bucket
              |       FROM bits GROUP BY 1),
              |qb AS (SELECT vec_id AS qid, bucket FROM bk WHERE vec_id < 20),
              |cb AS (SELECT vec_id AS cid, bucket FROM bk),
              |cand AS (SELECT qid, qb.bucket, cid
              |         FROM qb JOIN cb ON cb.bucket = qb.bucket AND cid <> qid),
              |pdots AS (SELECT cand.qid, cand.bucket, cand.cid,
              |    CAST(sum(a.x * b.x) AS BIGINT) AS dot
              |  FROM cand
              |  JOIN flat a ON a.vec_id = cand.qid
              |  JOIN flat b ON b.vec_id = cand.cid AND b.i = a.i
              |  GROUP BY 1, 2, 3),
              |scored AS (SELECT qid, bucket, cid,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
              |  FROM pdots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nc ON nc.vec_id = cid)
              |SELECT qid, bucket, cid, cos_sim, rank FROM (
              |  SELECT qid, bucket, cid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank
              |  FROM scored)
              |WHERE rank <= 3""".stripMargin)),

    // cross-modal join: text-quality stats per embedding cluster —
    // the docs and vectors worlds meet on doc_id = vec_id; at scale
    // both sides are bucketed on that key (SCALE.md) so this join is
    // co-located
    GQuery(
      "q68_crossmodal_cluster_quality",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", split($"text", " ").as("w"))
          .select($"doc_id", size($"w").as("n"),
            size(array_distinct($"w")).as("nu"))
        val vecs = t(s, dir, "embeddings")
          .select($"vec_id".as("doc_id"), $"label")
        docs.join(vecs, Seq("doc_id"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n").cast("long").as("total_tokens"),
            (sum($"nu") * lit(1.0) / sum($"n")).as("uniq_ratio"))
      },
      Some("""SELECT label, count(*) AS n_docs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |  CAST(sum(len(list_distinct(string_split(text, ' ')))) AS BIGINT)
             |    * 1.0
             |    / CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             |    AS uniq_ratio
             |FROM documents JOIN embeddings ON vec_id = doc_id
             |GROUP BY label""".stripMargin)),

    // array scalar-function surface over the embedding column (size /
    // indexing / min-max / lambda filter — all order-independent, so
    // float values compare exactly after the lossless float→double cast)
    GQuery(
      "q57_array_funcs",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "embeddings").select(
          $"vec_id",
          size($"embedding").cast("long").as("dim"),
          element_at($"embedding", 1).cast("double").as("first_val"),
          element_at($"embedding", -1).cast("double").as("last_val"),
          array_max($"embedding").cast("double").as("max_val"),
          array_min($"embedding").cast("double").as("min_val"),
          expr("cast(size(filter(embedding, x -> x > 0)) as bigint)").as("n_pos"))
      },
      Some("""SELECT vec_id,
             |  len(embedding) AS dim,
             |  CAST(embedding[1] AS DOUBLE) AS first_val,
             |  CAST(embedding[-1] AS DOUBLE) AS last_val,
             |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
             |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_val,
             |  len(list_filter(embedding, x -> x > 0)) AS n_pos
             |FROM embeddings""".stripMargin)),

    // deterministic k-means over the embedding column (k = 8, 2 fixed
    // Lloyd iterations) — the corpus-curation clustering step of a
    // training pipeline. Every quantity is exact: elements quantize to
    // floor(x·1000) longs, distances are integer sums of squares,
    // centroid updates floor one double divide of exact integers, and
    // ties break by lowest centroid id — so Spark and an unrolled-CTE
    // DuckDB oracle agree hash-exactly.
    // Scale shape: the long format (vec_id, dim, qv) keeps every stage
    // a hash-partitioned join/agg on data-sized keys: assignment
    // shuffles on dim (64 rows per vector) against a centroid table of
    // k·dim rows (broadcast), update is one groupBy (cluster, dim).
    // No all-pairs stage anywhere; k and dim bound the small side.
    GQuery(
      "q81_kmeans_embed",
      (s, dir) => {
        import s.implicits._
        // the long-format quantized relation feeds every k-means
        // iteration — memoized per (session, dataset) with
        // unpersist-on-evict, not leaked per invocation
        val q = Derived(s, Derived.Dataset, ("kmeansLong", dir))(
          t(s, dir, "embeddings")
            .select($"vec_id", posexplode($"embedding").as(Seq("d", "e")))
            .select($"vec_id", $"d",
              floor($"e".cast("double") * 1000).cast("long").as("qv"))
            .cache())
        val c0 = q.filter($"vec_id" < 8)
          .select($"vec_id".as("c"), $"d", $"qv".as("cv"))
        def assign(cent: DataFrame): DataFrame =
          q.join(GuardedBroadcast.maybe(cent), Seq("d"))
            .groupBy($"vec_id", $"c")
            .agg(sum(($"qv" - $"cv") * ($"qv" - $"cv")).as("dist"))
            .withColumn("rn", row_number().over(
              Window.partitionBy($"vec_id").orderBy($"dist", $"c")))
            .filter($"rn" === 1).select($"vec_id", $"c")
        def update(asg: DataFrame): DataFrame =
          q.join(asg, Seq("vec_id")).groupBy($"c", $"d")
            .agg(floor(sum($"qv").cast("double") / count(lit(1)))
              .cast("long").as("cv"))
        val a1 = assign(c0)
        val c1 = update(a1)
        val a2 = assign(c1)
        val c2 = update(a2)
        a2.groupBy($"c").agg(count(lit(1)).as("n_vecs"))
          .join(c2.filter($"d" === 0).select($"c", $"cv".as("c0")), Seq("c"))
          .select($"c".cast("long").as("cluster"), $"n_vecs", $"c0")
      },
      Some {
        def step(cent: String, asg: String, dist: String) =
          s"""$dist AS (SELECT q.vec_id, c.c, sum((q.qv - c.cv) * (q.qv - c.cv)) AS dist
             |  FROM q JOIN $cent c ON q.d = c.d GROUP BY 1, 2),
             |$asg AS (SELECT vec_id, c FROM (SELECT vec_id, c,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
             |  FROM $dist) WHERE rn = 1)""".stripMargin
        def upd(asg: String, cent: String) =
          s"""$cent AS (SELECT a.c, q.d,
             |  CAST(floor(CAST(sum(q.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
             |  FROM q JOIN $asg a ON q.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin
        s"""WITH q AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
           |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
           |  FROM embeddings),
           |c0 AS (SELECT vec_id AS c, d, qv AS cv FROM q WHERE vec_id < 8),
           |${step("c0", "a1", "d1")},
           |${upd("a1", "c1")},
           |${step("c1", "a2", "d2")},
           |${upd("a2", "c2")}
           |SELECT a.c AS cluster, CAST(count(*) AS BIGINT) AS n_vecs, min(c2.cv) AS c0
           |FROM a2 a JOIN c2 ON c2.c = a.c AND c2.d = 0
           |GROUP BY a.c""".stripMargin
      }),

    // centroid-distance outlier scoring: the 5 vectors farthest from
    // their own label's centroid — the embedding-space mislabel/noise
    // filter of a curation pipeline. Exactness: distances to the mean
    // are cross-multiplied by the group count (x·c − Σx, all BIGINT) so
    // no division happens before the compare; ties break by vec_id. At
    // 100 TB group counts would overflow the cross-multiplied form —
    // production uses a double mean there; the integer form is the
    // oracle-exact harness (same discipline as q81). Scale shape: one
    // groupBy for centroids (k·dim rows, broadcast back), one
    // per-vector aggregate, and Spark 4's WindowGroupLimit caps the
    // top-5-per-label shuffle.
    GQuery(
      "q96_embedding_outliers",
      (s, dir) => {
        import s.implicits._
        val q = t(s, dir, "embeddings")
          .select($"vec_id", $"label", posexplode($"embedding").as(Seq("d", "e")))
          .select($"vec_id", $"label", $"d",
            floor($"e".cast("double") * 10000 + 0.5).cast("long").as("x"))
        val cent = q.groupBy($"label", $"d")
          .agg(sum($"x").as("sx"), count(lit(1)).as("c"))
        val dist = q.join(GuardedBroadcast.maybe(cent), Seq("label", "d"))
          .groupBy($"vec_id", $"label")
          .agg(sum(($"x" * $"c" - $"sx") * ($"x" * $"c" - $"sx"))
            .cast("long").as("sqdist"))
        dist
          .withColumn("rk", row_number().over(
            Window.partitionBy($"label").orderBy($"sqdist".desc, $"vec_id")))
          .filter($"rk" <= 5)
          .select($"vec_id", $"label".cast("long").as("label"), $"sqdist",
            $"rk".cast("long").as("rk"))
      },
      Some("""WITH q AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS x
             |  FROM embeddings),
             |cent AS (SELECT label, d, CAST(sum(x) AS BIGINT) AS sx,
             |           count(*) AS c
             |         FROM q GROUP BY 1, 2),
             |dist AS (SELECT q.vec_id, q.label,
             |    CAST(sum((q.x * c.c - c.sx) * (q.x * c.c - c.sx)) AS BIGINT) AS sqdist
             |  FROM q JOIN cent c ON q.label = c.label AND q.d = c.d
             |  GROUP BY 1, 2)
             |SELECT vec_id, CAST(label AS BIGINT) AS label, sqdist,
             |  CAST(row_number() OVER (PARTITION BY label
             |    ORDER BY sqdist DESC, vec_id) AS BIGINT) AS rk
             |FROM dist QUALIFY rk <= 5""".stripMargin)),

    // IVF-PQ asymmetric-distance search — the memory-bounded ANN scale
    // path. The corpus is stored as M=4 one-byte sub-codes per vector
    // (vs 64 floats: 64× compression), each sub-code the nearest
    // codebook entry of its 16-dim subspace by exact integer L2 (ties
    // → lowest code). Search never touches corpus vectors: each query
    // precomputes a lookup table dot(q_m, codebook[m][k]) — (queries ×
    // M × K) rows, broadcast — and a candidate's approximate dot is M
    // table lookups summed; its norm is the reconstructed-codeword
    // norm. Coarse IVF cell (label) prunes candidates to the query's
    // own cell, as q48. Real PQ trains per-subspace k-means; the
    // codebook here is sampled from fixed anchor vectors (vec_id
    // 100..115) so the structure and search are identical while
    // assignment stays cross-engine exact. All arithmetic is integer
    // until one IEEE divide/sqrt; ranking ties break on cid.
    // Scale shape: encode = one broadcast join (codebook is M·K rows)
    // + partial-agg argmin over the corpus; search = one broadcast-LUT
    // hash join over the codes table. No full-vector reads at query
    // time, no shuffle wider than (qid, cid) partial aggregates.
    GQuery(
      "q192_ivfpq_topk",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val sub = e.select($"vec_id", $"label",
            explode(expr(
              "transform(sequence(0, 3), m -> named_struct(" +
                "'m', cast(m as bigint), 'sv', slice(v, m*16 + 1, 16)))")).as("t"))
          .select($"vec_id", $"label", $"t.m".as("m"), $"t.sv".as("sv"))
        val cb = sub.filter($"vec_id" >= 100 && $"vec_id" < 116)
          .select(($"vec_id" - 100).as("code"), $"m", $"sv".as("cb"))
          .withColumn("cbn",
            expr("aggregate(transform(cb, x -> x*x), cast(0 as bigint), (a,x) -> a + x)"))
        val enc = sub.join(GuardedBroadcast.maybe(cb), Seq("m"))
          .select($"vec_id", $"label", $"m", $"code", $"cbn",
            expr("aggregate(zip_with(sv, cb, (a,b) -> (a-b)*(a-b)), cast(0 as bigint), (a,x) -> a + x)")
              .as("l2"))
          .groupBy($"vec_id", $"label", $"m")
          .agg(min(struct($"l2", $"code", $"cbn")).as("best"))
          .select($"vec_id".as("cid"), $"label", $"m",
            $"best.code".as("code"), $"best.cbn".as("cbn"))
        val lut = sub.filter($"vec_id" < 20)
          .join(GuardedBroadcast.maybe(cb), Seq("m"))
          .select($"vec_id".as("qid"), $"m", $"code",
            expr("dot_i64(sv, cb)").as("pdot"))
        val qset = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"label", $"nrm".as("qn"))
        val probe = lut.join(qset, Seq("qid"))
        val sc = enc
          .join(GuardedBroadcast.maybe(probe), Seq("label", "m", "code"))
          .filter($"cid" =!= $"qid")
          .groupBy($"qid", $"cid")
          .agg(sum($"pdot").cast("long").as("adot"),
            sum($"cbn").cast("long").as("rnrm"),
            max($"qn").as("qn"))
          .withColumn("approx_cos",
            cosine($"adot", $"qn", $"rnrm"))
        val w = Window.partitionBy($"qid").orderBy($"approx_cos".desc, $"cid".asc)
        sc.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 3)
          .select($"qid", $"cid", $"approx_cos", $"rank")
      },
      Some(s"""WITH $quantizedSql,
              |sub AS (SELECT vec_id, label, CAST((i - 1) // 16 AS BIGINT) AS m, i, x
              |        FROM flat),
              |cb AS (SELECT vec_id - 100 AS code, m, i, x AS cbx
              |       FROM sub WHERE vec_id BETWEEN 100 AND 115),
              |cbn AS (SELECT m, code, CAST(sum(cbx * cbx) AS BIGINT) AS cbn
              |        FROM cb GROUP BY 1, 2),
              |l2 AS (SELECT s.vec_id, s.label, s.m, c.code,
              |         CAST(sum((s.x - c.cbx) * (s.x - c.cbx)) AS BIGINT) AS l2
              |       FROM sub s JOIN cb c ON c.m = s.m AND c.i = s.i
              |       GROUP BY 1, 2, 3, 4),
              |enc AS (SELECT vec_id AS cid, label, m, code, cbn FROM (
              |          SELECT l2.*, cbn.cbn,
              |            row_number() OVER (PARTITION BY l2.vec_id, l2.m
              |              ORDER BY l2.l2, l2.code) AS rk
              |          FROM l2 JOIN cbn ON cbn.m = l2.m AND cbn.code = l2.code)
              |        WHERE rk = 1),
              |lut AS (SELECT s.vec_id AS qid, s.m, c.code,
              |          CAST(sum(s.x * c.cbx) AS BIGINT) AS pdot
              |        FROM sub s JOIN cb c ON c.m = s.m AND c.i = s.i
              |        WHERE s.vec_id < 20 GROUP BY 1, 2, 3),
              |qset AS (SELECT e.vec_id AS qid, e.label, n.nrm AS qn
              |         FROM e JOIN nrm n ON n.vec_id = e.vec_id
              |         WHERE e.vec_id < 20),
              |sc AS (SELECT q.qid, enc.cid,
              |         CAST(sum(l.pdot) AS BIGINT) AS adot,
              |         CAST(sum(enc.cbn) AS BIGINT) AS rnrm,
              |         max(q.qn) AS qn
              |       FROM enc
              |         JOIN qset q ON q.label = enc.label
              |         JOIN lut l ON l.qid = q.qid AND l.m = enc.m
              |           AND l.code = enc.code
              |       WHERE enc.cid <> q.qid
              |       GROUP BY 1, 2)
              |SELECT qid, cid, approx_cos, rank FROM (
              |  SELECT qid, cid,
              |    CAST(adot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(rnrm AS DOUBLE))) AS approx_cos,
              |    CAST(row_number() OVER (PARTITION BY qid ORDER BY
              |      CAST(adot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(rnrm AS DOUBLE))) DESC,
              |      cid) AS BIGINT) AS rank
              |  FROM sc)
              |WHERE rank <= 3""".stripMargin)),

    // incremental IVF assignment: route a NEW vector batch onto the
    // corpus's FROZEN coarse cells — the embedding-side analog of
    // q162's incremental dedup (daily batches never re-cluster the
    // corpus). Centroids are per-cell dimension-wise integer SUMS of
    // the non-batch vectors: cosine is scale-invariant, so the sum
    // stands in for the mean with exact integer math end to end, and
    // both engines rank identical IEEE doubles. Scale shape: centroids
    // are cells x dims (k x 32 — broadcast), the batch cross-scores
    // against k cells (batch x k rows, never corpus x corpus), and the
    // report is cell-count-sized. The drift column (assigned cell !=
    // stored label) is the retrain signal an embedding pipeline
    // actually monitors.
    GQuery(
      "q211_incremental_ivf_assign",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir).withColumn("is_batch",
          conv(substring(md5(concat($"vec_id".cast("string"), lit(":ivfb"))
            .cast("binary")), 1, 8), 16, 10).cast("long") % 10 === 0)
        // frozen centroids: dim-wise sums over the corpus side
        val cent = e.filter(!$"is_batch")
          .select($"label".as("cell"), posexplode($"v").as(Seq("i", "x")))
          .groupBy($"cell", $"i").agg(sum($"x").as("sx"))
          .groupBy($"cell")
          .agg(expr("transform(array_sort(collect_list(struct(i, sx))), " +
            "p -> p.sx)").as("cv"))
          .withColumn("cn",
            expr("aggregate(transform(cv, x -> x * x), " +
              "cast(0 as bigint), (a, x) -> a + x)"))
        val batch = e.filter($"is_batch")
          .select($"vec_id".as("qid"), $"label", $"v".as("qv"), $"nrm".as("qn"))
        val scored = batch.join(GuardedBroadcast.maybe(cent))
          .select($"qid", $"label", $"cell",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val w = Window.partitionBy($"qid")
          .orderBy($"cos_sim".desc, $"cell".asc)
        scored.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .groupBy($"cell")
          .agg(count(lit(1)).as("n_assigned"),
            expr("count_if(cell != label)").as("n_drift"),
            max($"cos_sim").as("max_sim"))
      },
      Some(s"""WITH $quantizedSql,
              |b AS (SELECT vec_id,
              |        CAST(concat('0x', substr(md5(concat(
              |          CAST(vec_id AS VARCHAR), ':ivfb')), 1, 8)) AS BIGINT)
              |          % 10 = 0 AS is_batch
              |      FROM e),
              |cent AS (SELECT f.label AS cell, f.i, CAST(sum(f.x) AS BIGINT) AS sx
              |         FROM flat f JOIN b ON b.vec_id = f.vec_id
              |         WHERE NOT b.is_batch GROUP BY 1, 2),
              |cn AS (SELECT cell, CAST(sum(sx * sx) AS BIGINT) AS cn
              |       FROM cent GROUP BY 1),
              |dots AS (SELECT f.vec_id AS qid, c.cell,
              |           CAST(sum(f.x * c.sx) AS BIGINT) AS dot
              |         FROM flat f JOIN b ON b.vec_id = f.vec_id
              |           JOIN cent c ON c.i = f.i
              |         WHERE b.is_batch GROUP BY 1, 2),
              |sc AS (SELECT d.qid, e.label, d.cell,
              |         CAST(d.dot AS DOUBLE)
              |           / (sqrt(CAST(n.nrm AS DOUBLE))
              |              * sqrt(CAST(cn.cn AS DOUBLE))) AS cos_sim
              |       FROM dots d
              |         JOIN nrm n ON n.vec_id = d.qid
              |         JOIN cn ON cn.cell = d.cell
              |         JOIN e ON e.vec_id = d.qid),
              |best AS (SELECT qid, label, cell, cos_sim FROM (
              |    SELECT qid, label, cell, cos_sim,
              |      row_number() OVER (PARTITION BY qid
              |        ORDER BY cos_sim DESC, cell) AS rk
              |    FROM sc) WHERE rk = 1)
              |SELECT cell, count(*) AS n_assigned,
              |  CAST(count(*) FILTER (WHERE cell != label) AS BIGINT)
              |    AS n_drift,
              |  max(cos_sim) AS max_sim
              |FROM best GROUP BY 1""".stripMargin)),

    // ANN quality audit: recall@3 of the IVF bucket search (q48's
    // same-cell candidate rule) against the exact brute-force top-3 —
    // the measurement every approximate index needs before it replaces
    // the exact path in production. One broadcast pass scores all
    // (query, candidate) pairs; the exact and IVF rankings are two
    // windows over that single relation (the IVF one restricted to
    // same-label candidates), and the per-query hit count is a
    // (qid, cid)-keyed semi-intersection. Queries whose bucket misses
    // true neighbors surface as recall < 1 — never silently. Scale
    // shape: identical to q47 (the corpus is scanned once against a
    // broadcast query set); everything after is query-count-sized.
    GQuery(
      "q224_ann_recall",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"label".as("qlabel"),
            $"v".as("qv"), $"nrm".as("qn"))
        val c = e.select($"vec_id".as("cid"), $"label".as("clabel"),
          $"v".as("cv"), $"nrm".as("cn"))
        val scored = c.join(GuardedBroadcast.maybe(q), $"cid" =!= $"qid")
          .select($"qid", $"qlabel", $"cid", $"clabel",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        val exact = scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3).select($"qid", $"cid")
        val ivf = scored.filter($"clabel" === $"qlabel")
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3).select($"qid", $"cid")
        val hits = ivf.join(exact, Seq("qid", "cid"), "left_semi")
          .groupBy($"qid").agg(count(lit(1)).as("n"))
        q.select($"qid").join(hits, Seq("qid"), "left_outer")
          .select($"qid",
            coalesce($"n", lit(0L)).as("n_hits"),
            (coalesce($"n", lit(0L)) * lit(1.0) / lit(3)).as("recall_at_3"))
      },
      Some(s"""WITH $quantizedSql,
              |lbl AS (SELECT vec_id, label FROM embeddings),
              |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
              |           CAST(sum(q.x * c.x) AS BIGINT) AS dot
              |         FROM flat q JOIN flat c
              |           ON c.i = q.i AND c.vec_id <> q.vec_id
              |         WHERE q.vec_id < 20 GROUP BY 1, 2),
              |scored AS (SELECT qid, cid,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE))
              |      * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
              |  FROM dots JOIN nrm nq ON nq.vec_id = qid
              |    JOIN nrm nc ON nc.vec_id = cid),
              |exact AS (SELECT qid, cid FROM (
              |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
              |      ORDER BY cos_sim DESC, cid) AS r FROM scored) WHERE r <= 3),
              |ivf AS (SELECT qid, cid FROM (
              |    SELECT s.qid, s.cid, row_number() OVER (PARTITION BY s.qid
              |      ORDER BY s.cos_sim DESC, s.cid) AS r
              |    FROM scored s
              |      JOIN lbl lq ON lq.vec_id = s.qid
              |      JOIN lbl lc ON lc.vec_id = s.cid AND lc.label = lq.label)
              |  WHERE r <= 3),
              |h AS (SELECT i.qid, count(*) AS n FROM ivf i
              |      JOIN exact e2 ON e2.qid = i.qid AND e2.cid = i.cid
              |      GROUP BY 1),
              |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 20)
              |SELECT qs.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
              |  coalesce(h.n, 0) * 1.0 / 3 AS recall_at_3
              |FROM qs LEFT JOIN h ON h.qid = qs.qid""".stripMargin)),

    // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    // within each coarse cluster, a vector is dropped when a LOWER-id
    // vector sits within cosine > tau of it — the deterministic,
    // order-free variant of the paper's greedy keep-one rule (the
    // min-id "coverer" plays the kept exemplar; no sequential sweep, so
    // the rule parallelizes). Candidates are same-cluster pairs only
    // (bucket join, never all-pairs) and the exact-integer cosine makes
    // the tau test identical in both engines. Output is a per-cluster
    // retention report: corpus curation reads "cluster 3 is 40%
    // semantic duplicates" straight off it. Scale shape: the pair join
    // is bounded by cluster size (the coarse quantizer's job) — and
    // that bound is SELF-MONITORED q257-style (the r6-verdict
    // guardrail): each report row carries the cluster's exact pair
    // count n·(n−1)/2 and a pair_cap_exceeded flag against the
    // per-cluster pair budget, so a degenerate coarse clustering (one
    // giant cluster → quadratic stage) surfaces as a flagged report
    // row the operator re-quantizes on, instead of a silent hot task.
    GQuery(
      "q230_semdedup",
      (s, dir) => {
        import s.implicits._
        val pairCap = 1000000L // per-cluster pair budget (re-quantize past it)
        val e = quantized(s, dir)
        val a = e.select($"label", $"vec_id".as("d1"), $"v".as("v1"), $"nrm".as("n1"))
        val b = e.select($"label", $"vec_id".as("d2"), $"v".as("v2"), $"nrm".as("n2"))
        val dropped = a.join(b, Seq("label"))
          .filter($"d1" < $"d2")
          .filter(cosine(dot("v1", "v2"), $"n1", $"n2") > 0.30)
          .select($"label", $"d2").distinct()
          .groupBy($"label").agg(count(lit(1)).as("n_dropped"))
        e.groupBy($"label").agg(count(lit(1)).as("n_vecs"))
          .join(dropped, Seq("label"), "left_outer")
          .select($"label", $"n_vecs",
            coalesce($"n_dropped", lit(0L)).as("n_dropped"),
            ($"n_vecs" - coalesce($"n_dropped", lit(0L))).as("n_kept"),
            shiftright($"n_vecs" * ($"n_vecs" - 1), 1).as("n_pairs"),
            (shiftright($"n_vecs" * ($"n_vecs" - 1), 1) > pairCap)
              .cast("long").as("pair_cap_exceeded"))
      },
      Some(s"""WITH $quantizedSql,
              |dots AS (SELECT a.label, a.vec_id AS d1, b.vec_id AS d2,
              |           CAST(sum(a.x * b.x) AS BIGINT) AS dot
              |         FROM flat a JOIN flat b
              |           ON b.i = a.i AND b.label = a.label AND a.vec_id < b.vec_id
              |         GROUP BY 1, 2, 3),
              |drp AS (SELECT label, count(DISTINCT d2) AS n_dropped FROM (
              |    SELECT d.label, d.d2 FROM dots d
              |      JOIN nrm n1 ON n1.vec_id = d.d1
              |      JOIN nrm n2 ON n2.vec_id = d.d2
              |    WHERE CAST(d.dot AS DOUBLE) / (sqrt(CAST(n1.nrm AS DOUBLE))
              |      * sqrt(CAST(n2.nrm AS DOUBLE))) > 0.30)
              |  GROUP BY 1),
              |base AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY 1)
              |SELECT base.label, base.n_vecs,
              |  CAST(coalesce(drp.n_dropped, 0) AS BIGINT) AS n_dropped,
              |  CAST(base.n_vecs - coalesce(drp.n_dropped, 0) AS BIGINT) AS n_kept,
              |  (base.n_vecs * (base.n_vecs - 1)) // 2 AS n_pairs,
              |  CAST(CASE WHEN (base.n_vecs * (base.n_vecs - 1)) // 2 > 1000000
              |    THEN 1 ELSE 0 END AS BIGINT) AS pair_cap_exceeded
              |FROM base LEFT JOIN drp ON drp.label = base.label""".stripMargin)),

    // diversified top-k retrieval: global top-5 per query under a
    // per-cluster cap of 2 — the window-composable core of MMR-style
    // diversity (a result list shouldn't be five paraphrases from one
    // cluster). Two stacked rankings over ONE scored relation: rank
    // within (query, cluster), keep <= 2, re-rank survivors globally.
    // Both windows plan as WindowGroupLimit, so the shuffle carries at
    // most 2 rows per (query, cluster) past the first rank — the cap
    // does the pruning, not a post-filter. Scale shape: identical to
    // q47's broadcast scoring pass; everything downstream is
    // query-count-sized.
    GQuery(
      "q231_diversified_topk",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
        val c = e.select($"vec_id".as("cid"), $"label", $"v".as("cv"), $"nrm".as("cn"))
        val scored = c.join(GuardedBroadcast.maybe(q), $"cid" =!= $"qid")
          .select($"qid", $"cid", $"label",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val wc = Window.partitionBy($"qid", $"label")
          .orderBy($"cos_sim".desc, $"cid".asc)
        val wg = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        scored.withColumn("cr", row_number().over(wc)).filter($"cr" <= 2)
          .withColumn("rank", row_number().over(wg).cast("long"))
          .filter($"rank" <= 5)
          .select($"qid", $"cid", $"label", $"cos_sim", $"rank")
      },
      Some(s"""WITH $quantizedSql,
              |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, c.label,
              |           CAST(sum(q.x * c.x) AS BIGINT) AS dot
              |         FROM flat q JOIN flat c ON c.i = q.i AND c.vec_id <> q.vec_id
              |         WHERE q.vec_id < 20 GROUP BY 1, 2, 3),
              |scored AS (SELECT qid, cid, label,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE))
              |      * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
              |  FROM dots JOIN nrm nq ON nq.vec_id = qid
              |    JOIN nrm nc ON nc.vec_id = cid),
              |capped AS (SELECT qid, cid, label, cos_sim FROM (
              |    SELECT qid, cid, label, cos_sim, row_number() OVER (
              |        PARTITION BY qid, label ORDER BY cos_sim DESC, cid) AS cr
              |    FROM scored) WHERE cr <= 2)
              |SELECT qid, cid, label, cos_sim, rank FROM (
              |  SELECT qid, cid, label, cos_sim, CAST(row_number() OVER (
              |      PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
              |  FROM capped)
              |WHERE rank <= 5""".stripMargin)),

    // hard-negative triplet mining for contrastive training: per
    // anchor, the positive is its most-cosine-similar SAME-label
    // vector and the negatives are the 2 most-similar OTHER-label
    // vectors — the "hardest" negatives, the ones a contrastive loss
    // learns most from (easy random negatives quickly contribute ~0
    // gradient). One broadcast scoring pass (q47's shape) feeds both
    // rankings; each is a WindowGroupLimit over the same relation, so
    // the only data-sized work is the single corpus scan. The margin
    // column (pos_sim - neg_sim) is the curriculum signal: triplets
    // with small or negative margin are the valuable ones.
    GQuery(
      "q235_triplet_mining",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"label".as("qlabel"),
            $"v".as("qv"), $"nrm".as("qn"))
        val c = e.select($"vec_id".as("cid"), $"label".as("clabel"),
          $"v".as("cv"), $"nrm".as("cn"))
        val scored = c.join(GuardedBroadcast.maybe(q), $"cid" =!= $"qid")
          .select($"qid", $"qlabel", $"cid", $"clabel",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_sim"))
        val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid".asc)
        val pos = scored.filter($"clabel" === $"qlabel")
          .withColumn("pr", row_number().over(w)).filter($"pr" === 1)
          .select($"qid", $"cid".as("pos_id"), $"cos_sim".as("pos_sim"))
        val neg = scored.filter($"clabel" =!= $"qlabel")
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 2)
          .select($"qid", $"cid".as("neg_id"), $"cos_sim".as("neg_sim"),
            $"rank")
        pos.join(neg, Seq("qid"))
          .select($"qid", $"pos_id", $"neg_id", $"rank",
            $"pos_sim", $"neg_sim",
            ($"pos_sim" - $"neg_sim").as("margin"))
      },
      Some(s"""WITH $quantizedSql,
              |lbl AS (SELECT vec_id, label FROM embeddings),
              |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
              |           CAST(sum(q.x * c.x) AS BIGINT) AS dot
              |         FROM flat q JOIN flat c ON c.i = q.i AND c.vec_id <> q.vec_id
              |         WHERE q.vec_id < 20 GROUP BY 1, 2),
              |scored AS (SELECT qid, cid, lq.label AS qlabel, lc.label AS clabel,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE))
              |      * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
              |  FROM dots JOIN nrm nq ON nq.vec_id = qid
              |    JOIN nrm nc ON nc.vec_id = cid
              |    JOIN lbl lq ON lq.vec_id = qid
              |    JOIN lbl lc ON lc.vec_id = cid),
              |pos AS (SELECT qid, cid AS pos_id, cos_sim AS pos_sim FROM (
              |    SELECT qid, cid, cos_sim, row_number() OVER (PARTITION BY qid
              |      ORDER BY cos_sim DESC, cid) AS pr
              |    FROM scored WHERE clabel = qlabel) WHERE pr = 1),
              |neg AS (SELECT qid, cid AS neg_id, cos_sim AS neg_sim, rank FROM (
              |    SELECT qid, cid, cos_sim, CAST(row_number() OVER (
              |        PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
              |    FROM scored WHERE clabel <> qlabel) WHERE rank <= 2)
              |SELECT pos.qid, pos_id, neg_id, rank, pos_sim, neg_sim,
              |  pos_sim - neg_sim AS margin
              |FROM pos JOIN neg ON neg.qid = pos.qid""".stripMargin)),

    // top correlated embedding-dimension pairs (Pearson r) — the
    // redundancy audit run before dimensionality reduction / PQ
    // sub-space assignment: highly correlated dims waste quantization
    // budget. Per-row pair products are generated INSIDE the row by a
    // codegen'd nested-sequence transform (64 dims → 2016 pairs, a
    // constant factor — no self-join, no shuffle of the corpus), then
    // partial-aggregated to a 2016-row (d1,d2) relation; all sums use
    // the order-independent 4-decimal dsum so Spark's map-side combine
    // and DuckDB's sequential scan agree bit-for-bit, and r is
    // assembled from those exact sums with identical scalar IEEE ops.
    // At 100 TB the shuffle is still 2016 rows × partitions.
    GQuery(
      "q245_dim_correlation",
      (s, dir) => {
        import s.implicits._
        import OracleNum._
        val v = t(s, dir, "embeddings")
          .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val dims = v.select($"vec_id",
          posexplode($"v").as(Seq("d", "x")))
        val st = dims.groupBy($"d").agg(
          dsum($"x").as("sx"), dsum($"x" * $"x").as("sxx"),
          count(lit(1)).as("n"))
        val sxy = v.select(explode(expr(
            """flatten(transform(sequence(0, size(v) - 2), i ->
              |  transform(sequence(i + 1, size(v) - 1), j ->
              |    struct(i AS d1, j AS d2,
              |      element_at(v, i + 1) * element_at(v, j + 1) AS xy))))"""
              .stripMargin)).as("p"))
          .select($"p.d1", $"p.d2", $"p.xy")
          .groupBy($"d1", $"d2").agg(dsum($"xy").as("sxy"))
        sxy
          .join(st.select($"d".as("d1"), $"sx".as("sx1"), $"sxx".as("sxx1"),
            $"n"), "d1")
          .join(st.select($"d".as("d2"), $"sx".as("sx2"), $"sxx".as("sxx2")),
            "d2")
          .select($"d1", $"d2",
            (($"n" * $"sxy" - $"sx1" * $"sx2")
              / sqrt(($"n" * $"sxx1" - $"sx1" * $"sx1")
                * ($"n" * $"sxx2" - $"sx2" * $"sx2"))).as("r"))
          .orderBy(abs($"r").desc, $"d1".asc, $"d2".asc)
          .limit(20)
      },
      Some(s"""WITH v AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              |  FROM embeddings),
              |dims AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d,
              |    unnest(v) AS x FROM v),
              |st AS (SELECT d, ${OracleNum.dsumSql("x")} AS sx, ${OracleNum.dsumSql("x * x")} AS sxx,
              |    count(*) AS n FROM dims GROUP BY 1),
              |sxy AS (SELECT a.d AS d1, b.d AS d2, ${OracleNum.dsumSql("a.x * b.x")} AS sxy
              |  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.d < b.d
              |  GROUP BY 1, 2)
              |SELECT d1, d2,
              |  (n * sxy - sx1 * sx2)
              |    / sqrt((n * sxx1 - sx1 * sx1) * (n * sxx2 - sx2 * sx2)) AS r
              |FROM (SELECT sxy.d1, sxy.d2, sxy.sxy, a.sx AS sx1, a.sxx AS sxx1,
              |        a.n, b.sx AS sx2, b.sxx AS sxx2
              |      FROM sxy JOIN st a ON sxy.d1 = a.d JOIN st b ON sxy.d2 = b.d)
              |ORDER BY abs(r) DESC, d1, d2 LIMIT 20""".stripMargin)),

    // int8 scalar-quantization audit: symmetric per-dimension max-abs
    // scaling (the faiss/SQ8 convention), with the reconstruction-error
    // report a serving team reads before shipping quantized vectors.
    // floor(x·127/m + 0.5) is the engine-proof half-up rounding (both
    // engines' round() disagree at binary halves); max(abs(x)) over
    // identical doubles and the one guarded division are deterministic.
    // Scale shape: the per-dim scales are a 64-row aggregate joined
    // back broadcast-style; everything else is one scan, output
    // label-count-sized.
    GQuery(
      "q246_int8_quantize",
      (s, dir) => {
        import s.implicits._
        import OracleNum._
        val dims = t(s, dir, "embeddings")
          .select($"vec_id", $"label", posexplode(
            expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as(Seq("d", "x")))
        val scales = dims.groupBy($"d").agg(max(abs($"x")).as("m"))
        dims.join(scales, "d")
          .withColumn("qv", when($"m" > 0,
            floor($"x" * 127.0 / $"m" + 0.5)).otherwise(lit(0.0)))
          .withColumn("err", when($"m" > 0,
            $"x" - $"qv" * $"m" / 127.0).otherwise(lit(0.0)))
          .groupBy($"label")
          .agg(davg(abs($"err")).as("mean_abs_err"),
            max(abs($"err")).as("max_abs_err"),
            davg($"err" * $"err").as("mse"),
            count(lit(1)).as("n_vals"))
      },
      Some(s"""WITH dims AS (SELECT vec_id, label,
              |    generate_subscripts(embedding, 1) - 1 AS d,
              |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
              |sc AS (SELECT d, max(abs(x)) AS m FROM dims GROUP BY 1),
              |q AS (SELECT label,
              |    CASE WHEN m > 0 THEN floor(x * 127.0 / m + 0.5) ELSE 0.0 END AS qv,
              |    x, m FROM dims JOIN sc USING (d)),
              |e AS (SELECT label,
              |    CASE WHEN m > 0 THEN x - qv * m / 127.0 ELSE 0.0 END AS err
              |  FROM q)
              |SELECT label, ${OracleNum.davgSql("abs(err)")} AS mean_abs_err,
              |  max(abs(err)) AS max_abs_err, ${OracleNum.davgSql("err * err")} AS mse,
              |  count(*) AS n_vals
              |FROM e GROUP BY label""".stripMargin)),

    // truncated-dimension retrieval audit (Matryoshka-style, round 8):
    // score the same probe set with the FULL 64-dim cosine and with
    // only the first 16 dims, and report per-probe top-3 overlap — the
    // measurement behind "can we serve retrieval from a prefix slice
    // and re-rank with full vectors later?". A prefix slice is 4×
    // less I/O and 4× less dot-product work at serving time; the
    // overlap column says what that buys costs in rank fidelity.
    // Same integer-quantized exact math as q224 (both engines
    // bit-agree), probes broadcast, rankings are probe-partitioned
    // windows over a candidate join that is probe×corpus, never
    // corpus×corpus.
    GQuery(
      "q325_truncated_dim_audit",
      (s, dir) => {
        import s.implicits._
        val e = quantized(s, dir)
          .withColumn("vt", expr("slice(v, 1, 16)"))
          .withColumn("nrmt", expr(
            "aggregate(transform(vt, x -> x * x), cast(0 as bigint), (a, x) -> a + x)"))
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"),
            $"vt".as("qvt"), $"nrmt".as("qnt"))
        val c = e.select($"vec_id".as("cid"), $"v".as("cv"),
          $"nrm".as("cn"), $"vt".as("cvt"), $"nrmt".as("cnt"))
        val scored = c.join(GuardedBroadcast.maybe(q), $"cid" =!= $"qid")
          .select($"qid", $"cid",
            cosine(dot("qv", "cv"), $"qn", $"cn").as("cos_full"),
            cosine(dot("qvt", "cvt"), $"qnt", $"cnt").as("cos_trunc"))
        val wf = Window.partitionBy($"qid")
          .orderBy($"cos_full".desc, $"cid".asc)
        val wt = Window.partitionBy($"qid")
          .orderBy($"cos_trunc".desc, $"cid".asc)
        val full = scored.withColumn("r", row_number().over(wf))
          .filter($"r" <= 3).select($"qid", $"cid")
        val trunc = scored.withColumn("r", row_number().over(wt))
          .filter($"r" <= 3).select($"qid", $"cid")
        val hits = trunc.join(full, Seq("qid", "cid"), "left_semi")
          .groupBy($"qid").agg(count(lit(1)).as("n"))
        full.select($"qid").distinct()
          .join(hits, Seq("qid"), "left_outer")
          .select($"qid", coalesce($"n", lit(0L)).as("n_overlap"),
            (coalesce($"n", lit(0L)) * lit(1.0) / lit(3))
              .as("overlap_at_3"))
      },
      Some(s"""WITH $quantizedSql,
              |et AS (SELECT vec_id, v[1:16] AS vt FROM e),
              |nrmt AS (SELECT vec_id,
              |    CAST(list_aggregate(list_transform(vt, x -> x * x),
              |      'sum') AS BIGINT) AS nrmt
              |  FROM et),
              |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
              |    CAST(sum(q.x * c.x) AS BIGINT) AS dot,
              |    CAST(sum(CASE WHEN q.i <= 16 THEN q.x * c.x
              |      ELSE 0 END) AS BIGINT) AS dott
              |  FROM flat q JOIN flat c
              |    ON c.i = q.i AND c.vec_id <> q.vec_id
              |  WHERE q.vec_id < 20 GROUP BY 1, 2),
              |scored AS (SELECT qid, cid,
              |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE))
              |      * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_full,
              |    CAST(dott AS DOUBLE) / (sqrt(CAST(tq.nrmt AS DOUBLE))
              |      * sqrt(CAST(tc.nrmt AS DOUBLE))) AS cos_trunc
              |  FROM dots JOIN nrm nq ON nq.vec_id = qid
              |    JOIN nrm nc ON nc.vec_id = cid
              |    JOIN nrmt tq ON tq.vec_id = qid
              |    JOIN nrmt tc ON tc.vec_id = cid),
              |f AS (SELECT qid, cid FROM (
              |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
              |      ORDER BY cos_full DESC, cid) AS r FROM scored)
              |  WHERE r <= 3),
              |tr AS (SELECT qid, cid FROM (
              |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
              |      ORDER BY cos_trunc DESC, cid) AS r FROM scored)
              |  WHERE r <= 3),
              |h AS (SELECT tr.qid, count(*) AS n FROM tr
              |      JOIN f ON f.qid = tr.qid AND f.cid = tr.cid
              |      GROUP BY 1)
              |SELECT q2.qid, coalesce(h.n, 0) AS n_overlap,
              |  coalesce(h.n, 0) * 1.0 / 3 AS overlap_at_3
              |FROM (SELECT DISTINCT qid FROM f) q2
              |LEFT JOIN h ON h.qid = q2.qid""".stripMargin)),

    // persisted IVF index, cold-load probe (round 14 — the similarity
    // sibling of q383's signature index): cell-partitioned
    // assignments + centroid sums live as a versioned artifact
    // (scale/VectorIndex, built once per dataset like the pstore
    // layouts); the probe ranks cells against the PERSISTED centroids
    // and scans ONLY the probed cells' partition directories
    // (VectorIndexSpec pins the PartitionFilters and that no
    // non-index file is read). Arithmetic is q117's exactly — same
    // quantization, centroid sums, tie-breaks — so the multiprobe
    // oracle replays it from the raw embeddings.
    GQuery(
      "q390_vector_index_probe",
      (s, dir) => {
        import s.implicits._
        val tag = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
        val path = new java.io.File(sys.env.getOrElse(
          "SPARK_GRAFT_PSTORE_DIR", "bench_corpora/pstore"),
          s"vecidx_$tag").getAbsolutePath
        graft.scale.VectorIndex.ensure(
          t(s, dir, "embeddings").select($"vec_id", $"embedding", $"label"),
          path, s)
        val q = quantized(s, dir).filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
        graft.scale.VectorIndex.probe(s, path, q, nprobe = 2, k = 3)
      },
      Some(vecIdxProbeSql)),

    // persisted IVF index, INCREMENTAL-GROWTH arm (round 15 — the q384
    // pattern on the similarity artifact): the index is built from 90%
    // of the embeddings, one batch (10%) is APPENDED as delta-grain
    // seq= batches — cell-partitioned assignment rows plus PARTIAL
    // centroid sums, bytes written scale with the batch — and the
    // probe reads base ∪ delta with the centroid sums re-aggregated
    // exactly (integer partials — no drift). The oracle is IDENTICAL
    // to q390's: a delta-grown index must rank cells and neighbors
    // exactly like a monolithically-built one.
    GQuery(
      "q392_vector_index_append",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
        val path = new java.io.File(sys.env.getOrElse(
          "SPARK_GRAFT_PSTORE_DIR", "bench_corpora/pstore"),
          s"vecidx_incr_$tag").getAbsolutePath
        val (fs, _) = graft.scale.VersionedRoot.fsOf(s, path)
        val donePath = new org.apache.hadoop.fs.Path(s"$path/APPENDED")
        val fresh = fs.exists(donePath) &&
          graft.scale.VersionedRoot.readSmall(fs,
              new org.apache.hadoop.fs.Path(s"$path/FORMAT"))
            .contains(graft.scale.VectorIndex.FormatVersion.toString)
        if (!fresh) {
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          val emb = t(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding"), col("label"))
            .withColumn("m", pmod(xxhash64(col("vec_id")), lit(10)))
          graft.scale.VectorIndex.write(
            emb.filter(col("m") =!= 0).drop("m"), path)
          graft.scale.VectorIndex.append(
            emb.filter(col("m") === 0).drop("m"), path)
          fs.create(donePath, true).close()
        }
        val q = quantized(s, dir).filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qn"))
        graft.scale.VectorIndex.probe(s, path, q, nprobe = 2, k = 3)
      },
      Some(vecIdxProbeSql)),

    // IVF maintenance report (round 15): per-cell occupancy + drift
    // over the PERSISTED index — member count, share of the corpus in
    // permille, and mean member→own-centroid cosine in exact micro
    // units (per-member floor(cos·10⁶) is IEEE-deterministic, the
    // aggregation after it is integer — so the report replays
    // bit-identically from the raw embeddings). nlist-row output: the
    // report that shows a growing corpus skewing cells; a frozen ANN
    // layout degrades silently without it.
    GQuery(
      "q393_vector_index_occupancy",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
        val path = new java.io.File(sys.env.getOrElse(
          "SPARK_GRAFT_PSTORE_DIR", "bench_corpora/pstore"),
          s"vecidx_$tag").getAbsolutePath
        graft.scale.VectorIndex.ensure(
          t(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding"), col("label")),
          path, s)
        graft.scale.VectorIndex.occupancy(s, path)
      },
      Some(s"""WITH $quantizedSql,
              |cs AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS cx
              |       FROM flat GROUP BY 1, 2),
              |csn AS (SELECT label, CAST(sum(cx * cx) AS BIGINT) AS cnrm
              |        FROM cs GROUP BY 1),
              |md AS (SELECT f.vec_id, f.label,
              |         CAST(sum(f.x * cs.cx) AS BIGINT) AS mdot
              |       FROM flat f JOIN cs ON cs.label = f.label
              |         AND cs.i = f.i
              |       GROUP BY 1, 2),
              |mc AS (SELECT md.label,
              |    CAST(floor(CAST(mdot AS DOUBLE) /
              |      (sqrt(CAST(nrm.nrm AS DOUBLE)) *
              |       sqrt(CAST(csn.cnrm AS DOUBLE))) * 1e6) AS BIGINT)
              |      AS cos_micro
              |  FROM md JOIN nrm ON nrm.vec_id = md.vec_id
              |  JOIN csn ON csn.label = md.label),
              |per AS (SELECT label, count(*) AS n_members,
              |    CAST(sum(cos_micro) AS BIGINT) AS sum_cos_micro
              |  FROM mc GROUP BY 1)
              |SELECT label, CAST(n_members AS BIGINT) AS n_members,
              |  CAST(n_members * 1000 // (SELECT sum(n_members) FROM per)
              |    AS BIGINT) AS share_permille,
              |  CAST(sum_cos_micro // n_members AS BIGINT)
              |    AS avg_cos_micro
              |FROM per""".stripMargin))
  )

  /** q390/q392's shared oracle: the IVF probe replayed from the raw
    * embeddings — centroid sums per label, cell ranking, in-cell
    * scoring, top-3 — the q117 arithmetic. q392 (the append arm)
    * shares it VERBATIM: a delta-grown index must be verdict-identical
    * to a monolithic build.
    */
  private val vecIdxProbeSql: String =
    s"""WITH $quantizedSql,
       |cs AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS cx
       |       FROM flat GROUP BY 1, 2),
       |csn AS (SELECT label, CAST(sum(cx * cx) AS BIGINT) AS cnrm
       |        FROM cs GROUP BY 1),
       |pd AS (SELECT f.vec_id AS qid, cs.label,
       |         CAST(sum(f.x * cs.cx) AS BIGINT) AS cdot
       |       FROM flat f JOIN cs ON cs.i = f.i
       |       WHERE f.vec_id < 20 GROUP BY 1, 2),
       |ps AS (SELECT qid, pd.label,
       |    CAST(cdot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(csn.cnrm AS DOUBLE))) AS cscore
       |  FROM pd JOIN nrm nq ON nq.vec_id = qid
       |  JOIN csn ON csn.label = pd.label),
       |probes AS (SELECT qid, label FROM (
       |    SELECT qid, label,
       |      row_number() OVER (PARTITION BY qid ORDER BY cscore DESC, label) AS pr
       |    FROM ps)
       |  WHERE pr <= 2),
       |dots AS (SELECT p.qid, c.vec_id AS cid,
       |           CAST(sum(qf.x * c.x) AS BIGINT) AS dot
       |         FROM probes p
       |         JOIN flat c ON c.label = p.label
       |         JOIN flat qf ON qf.vec_id = p.qid AND qf.i = c.i
       |         WHERE c.vec_id <> p.qid
       |         GROUP BY 1, 2),
       |scored AS (SELECT qid, cid,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos_sim
       |  FROM dots JOIN nrm nq ON nq.vec_id = qid
       |  JOIN nrm nc ON nc.vec_id = cid)
       |SELECT qid, cid, cos_sim, rank FROM (
       |  SELECT qid, cid, cos_sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank
       |  FROM scored)
       |WHERE rank <= 3""".stripMargin
}
