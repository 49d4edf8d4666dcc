package graft

import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.model.Lookups
import graft.sources.Transcripts

/** enrich-path equivalence + fast-digest parity. */
class EnrichSpec extends SparkSpec {
  import spark.implicits._

  lazy val t = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")

  test("inline (map-literal) enrich ≡ broadcast-join enrich") {
    // the sf0.001 keys, plus a tool and a role no dim holds and null keys
    val extra = Seq[(String, String)](("ghost", "alien"), (null, null)).toDF("tool", "role")
    val keys = t.select("tool", "role").unionByName(extra)
    val cols = Seq("tool", "role", "tool_kind", "tool_team", "role_class", "role_priority").map(col)
    val joined = keys
      .join(broadcast(Lookups.ToolMeta.toDF("tool", "tool_kind", "tool_team")), Seq("tool"), "left")
      .join(broadcast(Lookups.RoleMeta.toDF("role", "role_class", "role_priority")), Seq("role"), "left")
      .select(cols: _*)
    val inline = keys.select(col("*") +: Enrich.columns: _*).select(cols: _*)
    assert(joined.exceptAll(inline).isEmpty && inline.exceptAll(joined).isEmpty)
    val misses = extra.select(Enrich.columns: _*).collect()
    assert(misses.length == 2 && misses.forall(r => (0 until 4).forall(r.isNullAt)),
      misses.toSeq)
  }

  test("sha256_hex ≡ sha2(s, 256) including empty and unicode") {
    val df = Seq("", "a", "conv-1#42", "ünïcödé ™", "x" * 1000).toDF("s")
    val bad = df.select(
      graft.functions.sha256_hex(col("s")).as("fast"),
      sha2(col("s"), 256).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(bad.count() == 0)
  }
}
