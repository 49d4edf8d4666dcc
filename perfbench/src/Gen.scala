package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator for the benchmark.
  *
  * Rows follow the transcripts schema of `graft.sources.Transcripts`
  * (conv_id, turn_idx, role, text, tool, ts) and its serverlog text grammar:
  * a 23-char timestamp, then `service host level [thread] class method
  * [line] [trace] [span] body`, sometimes with a `##JIDU##{json}##JIDU##`
  * suffix. Every value derives from `xxhash64(id, seed, salt)`, so one seed
  * always yields the same table, and each row carries the route the
  * pipeline must give it (`_route`, never written to the input parquet):
  *
  *  - short line (< 11 items)          → by tool, like an ok line
  *  - upper-case service name          → dropped
  *  - trace id `[00000000[1-9a-f]...]` → filtered
  *  - ok line with a tool              → sink_es
  *  - ok line without a tool           → sink_ls
  */
object Gen {

  /** `turns` rows; `hotFraction` of them in conversation 0, the rest spread
    * over conversations of about `turnsPerConv` turns each. */
  final case class Shape(turns: Long, turnsPerConv: Long, hotFraction: Double, files: Int)

  private val Scale = 1000000L

  def frame(spark: SparkSession, shape: Shape, seed: Long): DataFrame = {
    val id = col("id")
    def u(salt: Long): Column = pmod(xxhash64(id, lit(seed), lit(salt)), lit(Scale))
    val coldConvs = math.max(1L,
      math.round(shape.turns * (1.0 - shape.hotFraction) / shape.turnsPerConv))
    val hot = u(1) < lit((shape.hotFraction * Scale).toLong)
    val convNum = when(hot, lit(0L))
      .otherwise(pmod(xxhash64(id, lit(seed), lit(2L)), lit(coldConvs)) + 1L)

    // line family, by disjoint slices of one uniform draw
    val f = u(3)
    val short = f < lit(Scale / 13)
    val badSvc = !short && f < lit(Scale / 13 + Scale / 17)
    val bench = !short && !badSvc && f < lit(Scale / 13 + Scale / 17 + Scale / 37)

    val etIdx = pmod(xxhash64(id, lit(seed), lit(4L)), lit(5L))
    val et = element_at(array(Seq("click", "view", "signup", "purchase", "error").map(lit): _*),
      (etIdx + 1).cast("int"))
    val role = element_at(array(Seq("user", "user", "system", "assistant", "tool").map(lit): _*),
      (etIdx + 1).cast("int"))
    val tool = element_at(array(Seq("editor", "browser", "", "bash", "search").map(lit): _*),
      (etIdx + 1).cast("int"))
    val lvl = element_at(array(Seq("debug", "verbose", "warn", "info", "error").map(lit): _*),
      (etIdx + 1).cast("int"))

    val sec = pmod(xxhash64(id, lit(seed), lit(5L)), lit(86400L))
    val ms = pmod(xxhash64(id, lit(seed), lit(6L)), lit(1000L))
    val n = u(7)
    val tstr = concat(lit("2024-01-01 "),
      lpad((sec / 3600).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad(((sec % 3600) / 60).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad((sec % 60).cast("string"), 2, "0"), lit("."),
      lpad(ms.cast("string"), 3, "0"))
    val svc = when(badSvc, concat(lit("Svc-"), et))
      .when(n % 10 === 3, concat(lit("svc-"), et, lit(",")))
      .otherwise(concat(lit("svc-"), et))
    val trace = when(bench, concat(lit("[000000001a"), lpad((n % 1000).cast("string"), 3, "0"), lit("]")))
      .otherwise(concat(lit("[t"), lpad((n % 100000).cast("string"), 8, "0"), lit("]")))
    val jidu = when(n % 5 === 0,
      concat(lit(" ##JIDU##{\"extra_k\": \"v"), (n % 100).cast("string"), lit("\"}##JIDU##")))
      .otherwise(lit(""))
    val full = concat(tstr, lit(" "), svc, lit(" "),
      lit("host-"), (convNum % 5).cast("string"), lit(" "), lvl, lit(" "),
      lit("[t-"), (n % 8).cast("string"), lit("] "),
      lit("com.example.Cls"), (n % 20).cast("string"), lit(" "),
      lit("run"), (n % 7).cast("string"), lit(" "),
      lit("["), (n % 1000).cast("string"), lit("] "),
      trace, lit(" "),
      lit("[s"), (n % 9999).cast("string"), lit("] "),
      lit("evt="), et, lit(" id="), id.cast("string"), jidu)
    val text = when(short, concat(tstr, lit(" short line only"))).otherwise(full)
    val route = when(badSvc, lit("dropped")).when(bench, lit("filtered"))
      .when(tool =!= "", lit("sink_es")).otherwise(lit("sink_ls"))

    spark.range(0L, shape.turns, 1L, shape.files).select(
      concat(lit("conv-"), lpad(convNum.cast("string"), 8, "0")).as("conv_id"),
      (id % (1L << 30)).cast("int").as("turn_idx"),
      role.as("role"), text.as("text"), tool.as("tool"),
      timestamp_seconds(lit(1704067200L) + sec).as("ts"),
      route.as("_route"))
  }

  /** content fingerprint of (conv_id, turn_idx, text) rows */
  val fingerprint: Column = bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("text")))

  /** Writes the input parquet to `path` and returns the expected
    * (rows, fingerprint) per route, computed from the generator's labels. */
  def materialize(spark: SparkSession, shape: Shape, seed: Long,
                  path: String): Map[String, (Long, Long)] = {
    val df = frame(spark, shape, seed)
    df.drop("_route").write.mode("overwrite").parquet(path)
    df.groupBy("_route").agg(count(lit(1)), fingerprint).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }
}
