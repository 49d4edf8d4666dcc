package graft

import org.apache.spark.sql.functions._
import graft.model.Sinks
import graft.pipeline.TranscriptPipeline
import graft.route._
import graft.sources.Transcripts

/** End-to-end pipeline gates on the sf0.001-derived transcripts:
  * count parity (Σ sink counts == total), routing totality, ordered text
  * equality — the north-rule assertions, driver-side oracle style
  * (mirrors filebeat/tests/system/test_publisher.py's count checks). */
class PipelineSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val input = Transcripts.fromEvents(spark, "/root/testdata/sf0.001").cache()
  private lazy val full = TranscriptPipeline.transform(input).cache()

  // the session is JVM-wide: a cache left behind would stand in for the
  // plan of any later spec's transform over the same input
  override def afterAll(): Unit =
    try {
      full.unpersist(blocking = true)
      input.unpersist(blocking = true)
    } finally super.afterAll()

  test("transcripts derivation is deterministic and complete") {
    assert(input.count() == 1000)
    assert(TranscriptPipeline.transform(input).count() == 1000)
    // stable (conv_id, turn_idx) key is unique
    assert(input.select("conv_id", "turn_idx").distinct().count() == 1000)
  }

  test("routing totality: every row gets exactly one sink; Σ per-sink == total") {
    val counts = full.groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000)
    assert(counts.keySet.subsetOf(Set(Sinks.Es, Sinks.Ls, Sinks.Dropped, TranscriptPipeline.Filtered)))
    // the taxonomy mirror: published + filtered + dropped == total
    val published = counts.getOrElse(Sinks.Es, 0L) + counts.getOrElse(Sinks.Ls, 0L)
    assert(published + counts.getOrElse(TranscriptPipeline.Filtered, 0L) +
      counts.getOrElse(Sinks.Dropped, 0L) == 1000)
  }

  test("per-sink counts match a driver-side row-at-a-time oracle") {
    // independent oracle: re-derive routing from raw text with plain Scala
    val rows = input.select("text", "tool").collect()
    def statusOf(text: String): String = {
      val items = text.split(" ", 12)
      if (items.length < 11) return "short"
      val svc = items(2).replaceFirst(",", "")
      if (!svc.matches("^[a-z]+[a-z0-9\\-_.]+$")) return "bad_service"
      val tr = if (items(9).length < 2) items(9) else items(9).substring(1, items(9).length - 1)
      if (items(9).nonEmpty && tr.matches("^00000000[1-9a-f].*")) return "benchmark"
      "ok"
    }
    val expected = rows.groupBy { r =>
      val st = statusOf(r.getString(0))
      if (st == "bad_service") Sinks.Dropped
      else if (st == "benchmark") TranscriptPipeline.Filtered
      else if (r.getString(1).nonEmpty) Sinks.Es
      else Sinks.Ls
    }.map { case (k, v) => k -> v.length.toLong }
    val actual = full.groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(actual == expected)
  }

  test("routed rows keep per-turn text equality under (conv_id, turn_idx) order") {
    val routed = TranscriptPipeline.routed(input)
      .select("conv_id", "turn_idx", "text")
      .sortWithinPartitions("conv_id", "turn_idx")
    // compare against input minus filtered/dropped, same stable order
    val inputKeyed = input.select("conv_id", "turn_idx", "text")
    val joined = routed.alias("r")
      .join(inputKeyed.alias("i"), Seq("conv_id", "turn_idx"))
      .filter(col("r.text") =!= col("i.text"))
    assert(joined.count() == 0)
  }

  test("condition algebra compiles to Catalyst predicates") {
    import spark.implicits._
    val df = Seq(("a", 5.0), ("b", 15.0)).toDF("name", "v")
    val cond = And(Seq(FieldEquals("name", "a"), Range("v", lt = Some(10.0))))
    assert(df.filter(cond.toColumn).count() == 1)
    val sel = Selector(Seq(SelectorRule(Regexp("name", "^a"), "x")), "y")
    val sinks = df.withColumn("s", sel.sinkColumn).select("s").collect().map(_.getString(0))
    assert(sinks.toSeq == Seq("x", "y"))
    // has_fields: every listed field is non-null; an empty list is rejected
    // when the predicate is built
    val tagged = Seq(("a", "t"), ("b", null)).toDF("name", "tag")
    val has = tagged.filter(HasFields(Seq("name", "tag")).toColumn).select("name").as[String]
    assert(has.collect().toSeq == Seq("a"))
    intercept[IllegalArgumentException](HasFields(Nil).toColumn)
  }
}
