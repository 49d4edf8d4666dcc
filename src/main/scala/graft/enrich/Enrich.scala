package graft.enrich

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.Lookups

/** Enrich stage: the lookups keyed on `tool` and `role`, mirroring the
  * reference's translate processors (translate_sid/translatesid.go:76-118),
  * which are in-process map lookups per event. The dims
  * ([[graft.model.Lookups]]) compile into map LITERALS evaluated per row
  * inside whole-stage codegen: no join operator, no hash relation, no join
  * key. A key no dim holds, or a null key, gives null (≈ ignore_missing,
  * the left join's semantics; pinned by EnrichSpec).
  *
  * The fact side is never shuffled, and every executor holds the dims in
  * memory: they ship inside the task binary that Spark broadcasts. With no
  * join there is nothing to salt; hot conversations are handled where wide
  * operators exist — AQE skew handling stays on (Spark defaults,
  * [[graft.LocalSession]]) and `Actions.saltedSessionize` salts the
  * ordered fold.
  */
object Enrich {

  /** the four lookup columns over `tool` and `role`, for a caller that adds
    * them in a projection of its own. */
  def columns: Seq[Column] = {
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
}
