package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew management for joins.
  *
  * AQE's skew-join splitting (on in GraftSession) handles most skew at
  * runtime; these are the explicit tools for a join whose skew is
  * known ahead of time and must not wait for a runtime re-plan (e.g. a
  * power-law foreign key).
  */
object SkewOps {

  /** Salted equi-join: the left (large, skewed) side gets a random
    * salt in [0, buckets); the right side is exploded `buckets`× so
    * every (key, salt) pair is present. The shuffle key becomes
    * (key, salt), splitting each hot key over `buckets` reducers.
    * Right-side growth is `buckets`×, so use for small-to-medium right
    * sides; `buckets` ≈ (hot-key rows / target-partition rows).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      buckets: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      (rand(seed = 42) * buckets).cast("int"))
    val exploded = right.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(exploded, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot/cold split join — the production skew pattern when the right
    * side is too large to replicate wholesale: ONLY the hot keys pay
    * the `salts`× replication. One counting pass over the left finds
    * keys above `hotThreshold` (by construction a small set, so it
    * broadcasts); hot rows route through [[saltedJoin]], cold rows
    * through a plain shuffle join, and the two branches union.
    * Equivalent to `left.join(right, key)` for any threshold.
    */
  def skewSplitJoin(left: DataFrame, right: DataFrame, key: String,
      hotThreshold: Long, salts: Int = 16): DataFrame = {
    val hot = left.groupBy(col(key)).agg(count(lit(1)).as("__f"))
      .filter(col("__f") > hotThreshold)
      .select(col(key))
      // consulted by all four routing joins below: materialize once
      // (key-set sized, never data sized)
      .localCheckpoint()
    val hotB = GuardedBroadcast.maybe(hot)
    val lHot = left.join(hotB, Seq(key), "left_semi")
    val lCold = left.join(hotB, Seq(key), "left_anti")
    val rHot = right.join(hotB, Seq(key), "left_semi")
    val rCold = right.join(hotB, Seq(key), "left_anti")
    lCold.join(rCold, Seq(key))
      .unionByName(saltedJoin(lHot, rHot, key, salts))
  }
}
