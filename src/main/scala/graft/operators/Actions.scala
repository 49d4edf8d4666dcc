package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** The reference's `actions` processor family (libbeat/processors/actions)
  * re-expressed as declarative Column transforms. Every operator here is a
  * narrow, codegen'd projection — zero shuffle, linear scale; the only wide
  * operators are [[rateLimit]] (window over the key) and [[sessionize]]
  * (groupBy conv) and both shuffle only their grouping key + payload once.
  *
  * Row-level error semantics follow the reference: failures never kill the
  * job, they null the target or tag the row (processor.go:131-144 — group
  * level logs-and-continues).
  */
object Actions {

  /** Processor chain combinator (libbeat/processors/processor.go:131-144,
    * group.Run): processors apply in CONFIG ORDER as a left fold, and the
    * reference's ordering contract — global (beat-level) processors run
    * BEFORE client (input-level) ones (libbeat/publisher/processing/
    * default.go:344-376 builds the chain in exactly that order) — maps to
    * argument order here: `chain(df, global ++ client)`. Order is
    * semantically significant (e.g. truncate∘replace ≠ replace∘truncate);
    * the invariant is pinned in ActionsSpec. */
  def chain(df: DataFrame, processors: Seq[DataFrame => DataFrame]): DataFrame =
    processors.foldLeft(df)((d, p) => p(d))

  /** add_tags (actions/add_tags.go:75-82): append + dedup, order-stable via
    * sort (common.AddTagsWithKey dedups; we sort for engine-independence).
    * A null tag set initializes to the added tags — the reference CREATES
    * the list when the field is missing, so the configured tags are never
    * lost to null propagation. */
  def addTags(tags: Column, added: Seq[String]): Column = {
    val addedArr = array(added.map(lit): _*)
    array_sort(array_union(coalesce(tags, addedArr), addedArr))
  }

  /** copy_fields (actions/copy_fields.go:71-100). */
  def copyField(df: DataFrame, src: String, dst: String): DataFrame =
    df.withColumn(dst, col(src))

  /** rename (actions/rename.go:75-108): fails at plan time if target exists
    * (reference fails at run time per event). */
  def renameField(df: DataFrame, src: String, dst: String): DataFrame = {
    require(!df.columns.contains(dst), s"rename target exists: $dst")
    df.withColumnRenamed(src, dst)
  }

  /** replace (actions/replace.go:75-118): regex substitution. */
  def replaceField(c: Column, pattern: String, replacement: String): Column =
    regexp_replace(c, pattern, replacement)

  /** truncate_fields (actions/truncate_fields.go:84-140), char variant. */
  def truncateField(c: Column, maxChars: Int): Column =
    substring(c, 1, maxChars)

  /** convert (convert/convert.go:74-115): safe cast — null on failure
    * (mirrors fail_on_error=false + ignore_missing). The reference's type
    * set includes `ip` (transformType): a validated string, nulled when it
    * is not a strict IP literal. */
  def convertField(c: Column, to: String): Column = to match {
    case "ip" => when(is_valid_ip(c), c)
    case t    => c.cast(t)
  }

  /** timestamp (timestamp/timestamp.go:86-185): first-matching-layout parse. */
  def parseTimestamp(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** fingerprint (fingerprint/fingerprint.go:70-120): hash of joined fields,
    * hex. Field order is the config order, each field length-prefixed
    * ([[graft.functions.fingerprint_cols]]); `method` is the reference's
    * md5|sha1|sha256|sha512|xxhash set (fingerprint/hash.go). */
  def fingerprint(cols: Seq[Column], method: String = "sha256"): Column =
    fingerprint_cols(cols, method)

  /** decode_base64_field (actions/decode_base64_field.go:76-130). */
  def decodeBase64(c: Column): Column = unbase64(c).cast("string")

  /** urldecode (urldecode/urldecode.go:75-110). */
  def urlDecode(c: Column): Column = url_decode(c)

  /** decode_csv_fields (decode_csv_fields/decode_csv_fields.go:102-160):
    * RFC-CSV parse of a field into `n` named string columns (quotes and
    * embedded commas handled by the CSV reader, like the reference's
    * encoding/csv). */
  def decodeCsv(c: Column, fieldNames: Seq[String]): Column = {
    val schema = org.apache.spark.sql.types.StructType(
      fieldNames.map(f => org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.StringType)))
    from_csv(c, schema, Map.empty[String, String])
  }

  /** extract_array (extract_array/extract_array.go:115-170): map array
    * elements to named columns; missing index → null (ignore semantics). */
  def extractArray(df: DataFrame, arrCol: String, mapping: Map[String, Int]): DataFrame =
    mapping.foldLeft(df) { case (d, (name, idx)) =>
      // try_ variant: index past end → null (ANSI element_at would throw)
      d.withColumn(name, try_element_at(col(arrCol), lit(idx + 1))) // reference is 0-based
    }

  /** decode_xml_wineventlog (x-pack processor, decode_xml_wineventlog/
    * processor.go:90-131): decode Windows-event XML in `field` into a typed
    * winlog struct at `target`, and — `map_ecs_fields`, reference default
    * true — project the ECS companion columns `fields()` derives
    * (processor.go:138-156). The ECS projection is pure declarative column
    * reuse of the one decode (Catalyst CSE keeps it a single kernel call);
    * `message` keeps the reference's AddOptional + overwrite_keys semantics:
    * the rendered message wins only when present. Undecodable XML → NULL
    * struct (ignore_failure → dead-letter routing, like every decode here). */
  def decodeXmlWineventlog(df: DataFrame, field: String, target: String = "winlog",
                           mapEcsFields: Boolean = true): DataFrame = {
    val decoded = df.withColumn(target, graft.functions.decode_wineventlog(col(field)))
    if (!mapEcsFields) decoded
    else {
      // overwrite_keys writes only PRESENT keys, and the reference returns
      // before writing ANY ecs field when the decode errors
      // (processor.go:113-115) — so a null decode value keeps whatever
      // column the frame already carried rather than clobbering it to null
      def ecs(name: String, value: Column): Column =
        if (df.columns.contains(name)) coalesce(value, col(name)) else value
      decoded
        .withColumn("event_code", ecs("event_code", col(s"$target.event_id")))
        .withColumn("event_kind",
          ecs("event_kind", when(col(target).isNotNull, lit("event"))))
        .withColumn("event_provider",
          ecs("event_provider", col(s"$target.provider_name")))
        .withColumn("event_action", ecs("event_action", col(s"$target.task")))
        .withColumn("host_name", ecs("host_name", col(s"$target.computer_name")))
        .withColumn("event_outcome", ecs("event_outcome", col(s"$target.outcome")))
        .withColumn("log_level", ecs("log_level", col(s"$target.level")))
        .withColumn("message", ecs("message", col(s"$target.message")))
        .withColumn("error_code", ecs("error_code", col(s"$target.error_code")))
    }
  }

  /** extract_field (deprecated, actions/extract_field.go:75-109): split a
    * field on a separator and take the index'th part; missing index → null
    * (the reference errors per event and leaves the field absent). */
  def extractField(df: DataFrame, src: String, separator: String, index: Int,
                   target: String): DataFrame =
    df.withColumn(target,
      try_element_at(split(col(src), java.util.regex.Pattern.quote(separator)),
        lit(index + 1))) // reference is 0-based

  /** line-reader charset decode (libbeat/reader/readfile/encoding — the
    * reference decodes ~30 encodings via x/text before any processor runs):
    * binary line bytes → string for the JVM charset set (UTF-8, UTF-16/LE/BE,
    * ISO-8859-1, US-ASCII via Spark's codegen'd `decode`). In the table-first
    * model most sources arrive decoded; this is the operator for binary
    * ingest columns. Unknown charset fails at plan time. */
  def decodeCharset(bin: Column, charset: String): Column = {
    // plan-time config validation against the set Spark's decode() actually
    // supports (Charset.forName alone accepts ~170 JVM charsets that would
    // then throw per-task at runtime, killing the job mid-run)
    val canonical = java.nio.charset.Charset.forName(charset).name()
    val supported = Set("US-ASCII", "ISO-8859-1", "UTF-8", "UTF-16BE",
      "UTF-16LE", "UTF-16")
    require(supported.contains(canonical),
      s"decode supports ${supported.mkString(", ")}; got $canonical")
    decode(bin, canonical)
  }

  /** include/exclude line filters (filebeat harvester.go:498-518). */
  def includeLines(df: DataFrame, textCol: String, pattern: String): DataFrame =
    df.filter(col(textCol).rlike(pattern))
  def excludeLines(df: DataFrame, textCol: String, pattern: String): DataFrame =
    df.filter(!col(textCol).rlike(pattern))

  /** ratelimit (ratelimit/rate_limit.go:102-115), batch analogue: keep the
    * first `limit` events per key in event order; emits per-key kept/dropped
    * tallies (the token-bucket counters). One shuffle on the key. */
  def rateLimitCounts(df: DataFrame, key: String, order: String, limit: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order)
    df.withColumn("_rn", row_number().over(w))
      .groupBy(key)
      .agg(sum(when(col("_rn") <= limit, 1L).otherwise(0L)).as("kept"),
        sum(when(col("_rn") > limit, 1L).otherwise(0L)).as("dropped"))
  }

  /** multiline (libbeat/reader/multiline/pattern.go:68-236) re-expressed as
    * conversation assembly: all turns of a conv folded into one ordered
    * document. groupBy(conv) is ONE shuffle of (key, turn_idx, text); the
    * fold uses [[graft.functions.ordered_topk]] — a size-capped heap
    * aggregate with map-side partial merge — so a hot conv_id (the repo's
    * own generator routes 20% of all rows to conv 0) costs each task at most
    * `maxTurns` entries instead of its full 10^11-turn share. `maxTurns`
    * mirrors the reference's own `max_lines` truncation contract
    * (multiline_config.go:54). */
  def sessionize(df: DataFrame, sep: String = "\n",
                 maxTurns: Int = 100000): DataFrame =
    df.groupBy("conv_id")
      .agg(
        count(lit(1)).cast("long").as("n_turns"),
        array_join(ordered_topk(col("turn_idx"), col("text"), maxTurns), sep)
          .as("session_text"))

  /** [[sessionize]] with an explicit `salts`-way SALT on the fold key — the
    * opt-in mitigation for hot conversation keys (the BASELINE.md hot-key
    * walls: per-key ORDERED semantics put a 20%-of-corpus conv through one
    * task). Callers trade TOTAL per-conv order for `salts` parallel
    * per-shard folds: each turn lands in shard `turn_idx mod salts`, so
    * order WITHIN a shard is exact, the union of a conv's shards is its
    * full turn set, and the hot key's largest fold group — the straggler
    * task's cost at cluster scale — drops by exactly the salt factor. One
    * output row per (conv_id, salt); a consumer that needs the totally
    * ordered session interleaves the shards round-robin (they are residue
    * classes by construction) or stays on [[sessionize]]. */
  def saltedSessionize(df: DataFrame, salts: Int, sep: String = "\n",
                       maxTurns: Int = 100000): DataFrame = {
    require(salts >= 1, s"salts must be >= 1: $salts")
    df.withColumn("salt", pmod(col("turn_idx"), lit(salts)).cast("int"))
      .groupBy("conv_id", "salt")
      .agg(
        count(lit(1)).cast("long").as("n_turns"),
        array_join(ordered_topk(col("turn_idx"), col("text"), maxTurns), sep)
          .as("session_text"))
  }

  /** multiline folding, `match: after` + negate shape (pattern.go:268-272):
    * a line NOT matching `startPattern` continues the previous event. See
    * [[multilinePattern]] for the full config surface. */
  def multilineFold(df: DataFrame, startPattern: String,
                    maxLines: Int = 100000): DataFrame =
    multilinePattern(df, startPattern, negate = true, matchMode = "after",
      maxLines = maxLines)

  /** Full multiline pattern reader (multiline/pattern.go:104-236 +
    * multiline_config.go:49-60) as a batch fold over (conv_id, turn_idx):
    *
    *  - `match: after`:  current line joins the buffer when
    *                     match(current) XOR negate (afterMatcher)
    *  - `match: before`: current line joins when match(PREVIOUS) XOR negate
    *                     (beforeMatcher — "previous line signals
    *                     continuation")
    *  - `flush_pattern`: a matching line is ADDED to its event and then the
    *                     event is flushed (pattern.go:205-217), so the next
    *                     line always opens a new event
    *  - `max_lines`:     events truncate to the first N lines
    *                     (message_buffer addLine cap); grouping is unchanged
    *
    * Batch formulation: per conv, a line opens a new event when it is the
    * first, when the pred rejects it, or when the previous line flushed —
    * a lag + running-sum window pair (one shuffle on conv_id), then a
    * capped ordered fold per (conv, event_idx). */
  def multilinePattern(df: DataFrame, pattern: String, negate: Boolean = false,
                       matchMode: String = "after",
                       flushPattern: Option[String] = None,
                       maxLines: Int = 100000): DataFrame = {
    require(matchMode == "after" || matchMode == "before",
      s"unknown matcher type: $matchMode") // multiline_config.go:66
    val ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = col("_m")
    val joins = matchMode match {
      case "after"  => if (negate) !m else m
      case "before" =>
        val prev = lag(m, 1).over(ord)
        coalesce(if (negate) !prev else prev, lit(false))
    }
    val prevFlushed = flushPattern match {
      case Some(fp) => coalesce(lag(col("text"), 1).over(ord).rlike(fp), lit(false))
      case None     => lit(false)
    }
    df.withColumn("_m", col("text").rlike(pattern))
      .withColumn("_boundary",
        when(row_number().over(ord) === 1 || !joins || prevFlushed, 1).otherwise(0))
      .withColumn("event_idx", sum(col("_boundary")).over(cum).cast("int"))
      .groupBy("conv_id", "event_idx")
      .agg(
        min("turn_idx").as("first_turn"),
        count(lit(1)).cast("long").as("n_lines"),
        array_join(ordered_topk(col("turn_idx"), col("text"), maxLines), "\n")
          .as("event_text"))
  }

  /** count-mode multiline (multiline_config.go:35-45, `type: count`): fixed
    * groups of `n` lines per conv, in turn order. */
  def multilineCount(df: DataFrame, n: Int): DataFrame = {
    require(n > 0, "count_lines must be positive")
    val ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    df.withColumn("event_idx", ((row_number().over(ord) - 1) / n).cast("int"))
      .groupBy("conv_id", "event_idx")
      .agg(
        min("turn_idx").as("first_turn"),
        count(lit(1)).cast("long").as("n_lines"),
        array_join(ordered_topk(col("turn_idx"), col("text"), n), "\n")
          .as("event_text"))
  }

  /** kafka fields-hash partitioner (libbeat/outputs/kafka/partition.go:216-238):
    * FNV-1a-32 of the key, unsigned, mod partition count. */
  def kafkaPartition(key: Column, numPartitions: Int): Column =
    pmod(fnv1a32(key).cast("long").bitwiseAND(lit(4294967295L)), lit(numPartitions.toLong))
      .cast("int")

  /** kafka `round_robin` partitioner (partition.go:137-156): successive
    * events rotate through partitions. Batch analogue: the per-group event
    * sequence number mod N (a window over the producer key, mirroring the
    * reference's per-producer counter). */
  def kafkaPartitionRoundRobin(df: DataFrame, groupKey: String, order: String,
                               numPartitions: Int): DataFrame = {
    val w = Window.partitionBy(groupKey).orderBy(order)
    df.withColumn("part_id",
      pmod(row_number().over(w) - 1, lit(numPartitions)).cast("int"))
  }

  /** add_labels (actions/add_labels.go:37-55): constants flattened under
    * `labels.` — arrays keep their index path, like common.Flatten. */
  def addLabels(df: DataFrame, labels: Map[String, Any]): DataFrame = {
    def flatten(prefix: String, v: Any): Seq[(String, Column)] = v match {
      case m: Map[_, _] =>
        m.toSeq.flatMap { case (k, x) => flatten(s"$prefix.$k", x) }
      case xs: Seq[_] =>
        xs.zipWithIndex.flatMap { case (x, i) => flatten(s"$prefix.$i", x) }
      case x => Seq(prefix -> lit(x))
    }
    labels.toSeq.flatMap { case (k, v) => flatten(s"labels.$k", v) }
      .foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
  }

  /** add_locale (add_locale/add_locale.go:71-88): the event's timezone —
    * in a batch engine the session zone, as `event.timezone`. */
  def addLocale(df: DataFrame): DataFrame =
    df.withColumn("event.timezone",
      lit(df.sparkSession.conf.get("spark.sql.session.timeZone")))

  /** add_data_stream (add_data_stream/add_data_stream.go:47-85): the
    * type-dataset-namespace triple and the derived index name. */
  def addDataStream(df: DataFrame, dsType: String = "logs",
                    dataset: Column = lit("generic"),
                    namespace: Column = lit("default")): DataFrame =
    df.withColumn("data_stream.type", lit(dsType))
      .withColumn("data_stream.dataset", dataset)
      .withColumn("data_stream.namespace", namespace)
      .withColumn("raw_index",
        concat_ws("-", lit(dsType), dataset, namespace))

  /** truncate_fields BYTE variant (actions/truncate_fields.go:54-60
    * max_bytes): truncate the UTF-8 encoding to ≤ maxBytes without splitting
    * a code point (the reference slices bytes; we back off to the previous
    * UTF-8 boundary so the output stays valid text). */
  def truncateFieldBytes(c: Column, maxBytes: Int): Column =
    graft.functions.truncate_utf8_bytes(c, maxBytes)

  /** timestamp processor with GO reference layouts
    * (timestamp/timestamp.go:86-185): Beats configs carry Go's
    * "2006-01-02 15:04:05"-style layouts; translate to a Spark datetime
    * pattern, then first-matching-layout parse. */
  def parseTimestampGoLayouts(c: Column, goLayouts: Seq[String]): Column =
    coalesce(goLayouts.map(l => try_to_timestamp(c, lit(goLayoutToPattern(l)))): _*)

  /** Go reference-time layout → Spark datetime pattern. Covers the layout
    * vocabulary Beats ships (timestamp/timestamp.go docs): 2006/01/02,
    * 15/03/04/05, .000/.999 fractions, Jan/January, Mon/Monday, PM,
    * -0700/-07:00/Z07:00, MST.
    *
    * Fractions follow Go's parse semantics (time/format.go, stdFracSecond9
    * parse: maximal digit run of ANY length): a `.999`/`,999` run is
    * ELIDABLE and length-flexible — it maps to an optional 9-'S' section
    * `[.SSSSSSSSS]`, which Spark parses as 1–9 fraction digits (the
    * datetime-pattern contract: "the acceptable fraction length can be
    * [1, the number of contiguous 'S']") — so a `.999` layout parses
    * microsecond or nanosecond inputs exactly like Go. A `.000` run keeps
    * Go's exact-digit-count requirement (std0xFraction parse). */
  def goLayoutToPattern(layout: String): String = {
    // ordered longest-first so "2006" wins over "06", "15" over "1", etc.;
    // dotted/comma 9-fractions precede the bare runs so the separator joins
    // the optional section
    val subs = Seq(
      ".999999999" -> "[.SSSSSSSSS]", ".999999" -> "[.SSSSSSSSS]", ".999" -> "[.SSSSSSSSS]",
      ",999999999" -> "[,SSSSSSSSS]", ",999999" -> "[,SSSSSSSSS]", ",999" -> "[,SSSSSSSSS]",
      "January" -> "MMMM", "Jan" -> "MMM",
      "Monday" -> "EEEE", "Mon" -> "EEE",
      "2006" -> "yyyy", "06" -> "yy",
      "15" -> "HH", "01" -> "MM", "02" -> "dd", "03" -> "hh", "04" -> "mm",
      "05" -> "ss",
      "000000000" -> "SSSSSSSSS", "000000" -> "SSSSSS", "000" -> "SSS",
      "999999999" -> "SSSSSSSSS", "999999" -> "SSSSSSSSS", "999" -> "SSSSSSSSS",
      "Z07:00" -> "XXX", "Z0700" -> "XX",
      "-07:00" -> "xxx", "-0700" -> "xx", "-07" -> "x",
      "MST" -> "zzz",
      "PM" -> "a",
      "2" -> "d", "1" -> "M", "3" -> "h", "4" -> "m", "5" -> "s"
    )
    val sb = new StringBuilder
    var i = 0
    while (i < layout.length) {
      subs.find { case (go, _) => layout.startsWith(go, i) } match {
        case Some((go, j)) => sb.append(j); i += go.length
        case None =>
          val ch = layout.charAt(i)
          // quote literal letters for the Java formatter — as ONE quoted
          // run per stretch: per-letter quoting would emit 'U''T''C', whose
          // '' the formatter reads as an ESCAPED quote (literal U'T'C)
          if (ch.isLetter) {
            val start = i
            while (i < layout.length && layout.charAt(i).isLetter &&
              !subs.exists { case (go, _) => layout.startsWith(go, i) }) i += 1
            sb.append('\'').append(layout.substring(start, i)).append('\'')
          } else { sb.append(ch); i += 1 }
      }
    }
    sb.toString
  }

  /** serverlog envelope unwrap (parse_serverlog/parser.go:82-98): the
    * shipper wraps each content line in a JSON envelope; extract
    * `contents.content` plus `tags`→`source_tags`, `time`→`source_time`.
    * Unparseable envelopes yield null content — dead-letter routed, the
    * columnar analogue of the processor's error return. */
  def unwrapEnvelope(df: DataFrame, envelopeCol: String = "envelope"): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("contents",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.StringType)))),
      org.apache.spark.sql.types.StructField("tags",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("time",
        org.apache.spark.sql.types.StringType)))
    df.withColumn("_env", from_json(col(envelopeCol), schema))
      .withColumn("content", col("_env.contents.content"))
      .withColumn("source_tags", col("_env.tags"))
      .withColumn("source_time", col("_env.time"))
      .drop("_env")
  }
}
