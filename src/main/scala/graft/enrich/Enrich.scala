package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Enrich stage: broadcast-hash-join lookups, mirroring the reference's
  * lookup-translate processors (translate_sid/translatesid.go:76-118,
  * dns/dns.go:81-140 — per-event map/cache lookups) as set-at-a-time joins.
  *
  * Both lookup tables are tiny and explicitly `broadcast()`-hinted so the
  * join never shuffles the (huge) transcript side — at 10^12 rows the fact
  * table stays partition-local and each executor holds the dim in memory.
  */
object Enrich {

  def toolMeta(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.model.Lookups.ToolMeta.toDF("tool", "tool_kind", "tool_team")
  }

  def roleMeta(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.model.Lookups.RoleMeta.toDF("role", "role_class", "role_priority")
  }

  /** Left-join both lookups (missing keys keep null meta — ≈ ignore_missing).
    * This is the general path: correct for dims of any size, broadcast-hinted
    * so the fact side never shuffles. */
  def enrich(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    df.join(broadcast(toolMeta(spark)), Seq("tool"), "left")
      .join(broadcast(roleMeta(spark)), Seq("role"), "left")
  }

  /** Inline enrich: the lookup dims compiled into map LITERALS evaluated
    * per row inside whole-stage codegen — no join operator at all. This is
    * the faithful mirror of the reference's translate processors, which are
    * in-process map lookups per event (translate_sid/translatesid.go:76-118),
    * and it removes the hash-relation probe (~25% of the round-1 transform
    * profile) for dims that are static vocabulary tables. Semantics are
    * identical to [[enrich]] (left join, null on miss — pinned by
    * EnrichSpec); use [[enrich]] when the dim is data-dependent or large. */
  def enrichInline(df: DataFrame): DataFrame = df.select(col("*") +: inlineColumns: _*)

  /** [[enrichInline]]'s lookups as columns over `tool` and `role`, for a
    * caller that adds them in a projection of its own. */
  def inlineColumns: Seq[Column] = {
    import graft.model.Lookups
    def strMap(entries: Seq[(String, String)]): Column =
      map(entries.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val rp = map(Lookups.RoleMeta.sortBy(_._1)
      .flatMap { case (k, _, p) => Seq(lit(k), lit(p)) }: _*)
    Seq(
      try_element_at(strMap(Lookups.ToolMeta.map(t => t._1 -> t._2)), col("tool")).as("tool_kind"),
      try_element_at(strMap(Lookups.ToolMeta.map(t => t._1 -> t._3)), col("tool")).as("tool_team"),
      try_element_at(strMap(Lookups.RoleMeta.map(r => r._1 -> r._2)), col("role")).as("role_class"),
      try_element_at(rp, col("role")).as("role_priority"))
  }

  /** Salted repartition for skew-heavy keys (hot conv_ids): spreads each key
    * over `saltBuckets` partitions before a wide operation, the explicit
    * analogue of the kafka fields-hash partitioner + random jitter
    * (libbeat/outputs/kafka/partition.go:216-319). Use together with AQE
    * skew-join splitting (enabled in session conf) for shuffle joins; for
    * broadcast joins no shuffle exists and salting is unnecessary.
    */
  def saltedRepartition(df: DataFrame, key: String, saltBuckets: Int,
                        numPartitions: Int): DataFrame =
    // salt from a hash of the WHOLE row: deterministic, and uniform even when
    // the input has few partitions (a partition-id salt would cap the spread
    // of a hot key at the input partition count)
    df.withColumn("_salt", pmod(hash(df.columns.map(col): _*), lit(saltBuckets)))
      .repartition(numPartitions, col(key), col("_salt"))
      .drop("_salt")
}
