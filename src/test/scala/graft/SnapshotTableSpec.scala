package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotTable

/** Format-level gates for the from-scratch snapshot table format: CAS
  * commits, txn-key idempotence, append-only snapshots, snapshot-isolated
  * reads. (The pipeline-level protocol over it is gated in
  * PipelineRunnerSpec.) */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): SnapshotTable =
    new SnapshotTable(scratchDir("graft-snaptbl"), spark)

  test("append advances one version per commit; reads are snapshot-isolated") {
    val t = tmpTable()
    assert(t.state().version == 0 && t.readTable("").isEmpty)
    val r1 = appendTo(t, Seq((1, "a"), (2, "b")).toDF("id", "v"), None)
    assert(!r1.alreadyCommitted && t.state().version == 1)
    val r2 = appendTo(t, Seq((3, "c")).toDF("id", "v"), None)
    assert(t.state().version == 2 && r2.snapshotId != r1.snapshotId)
    assert(t.readTable("").get.count() == 3)
    // metadata records real file sizes
    assert(t.state().files.forall(_.size > 0))
    assert(r1.addedBytes > 0 && r2.addedBytes > 0)
  }

  test("txn keys make appends effectively-once") {
    val t = tmpTable()
    val first = appendTo(t, Seq((1, "a")).toDF("id", "v"), Some("batch-1"))
    val retry = appendTo(t, Seq((1, "a")).toDF("id", "v"), Some("batch-1"))
    assert(!first.alreadyCommitted && retry.alreadyCommitted)
    assert(retry.snapshotId == first.snapshotId)
    assert(t.readTable("").get.count() == 1)
    assert(t.state().version == 1, "the rejected retry must not add a version")
  }

  test("concurrent appenders all land; versions strictly serialize") {
    val t = tmpTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future(appendTo(t, Seq((i, s"w$i")).toDF("id", "v"), Some(s"w-$i")))
    }
    val results = fs.map(Await.result(_, 2.minutes))
    assert(results.forall(!_.alreadyCommitted))
    assert(t.state().version == 4)
    assert(t.readTable("").get.count() == 4)
    // every committed snapshot id is distinct and recorded in history
    assert(t.state().snapshots.map(_.id).distinct.size == 4)
  }

  test("concurrent same-txn appenders: exactly one wins, no duplicate rows") {
    val t = tmpTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 3).map { _ =>
      Future(appendTo(t, Seq((42, "x")).toDF("id", "v"), Some("the-batch")))
    }
    val results = racers.map(Await.result(_, 2.minutes))
    assert(results.count(!_.alreadyCommitted) == 1)
    assert(results.map(_.snapshotId).distinct.size == 1)
    assert(t.readTable("").get.count() == 1)
  }

  test("a reader's resolved snapshot is immune to commits that land after it") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a"), (2, "b")).toDF("id", "v"), None)
    val view = t.readTable("").get // resolves version 1's file list NOW
    appendTo(t, Seq((3, "c")).toDF("id", "v"), None)
    // the append advanced the table, but the in-flight reader still sees
    // its snapshot
    assert(view.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b")))
    assert(t.readTable("").get.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("historical snapshots stay readable (metadata retained per version)") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a")).toDF("id", "v"), None)
    appendTo(t, Seq((2, "b")).toDF("id", "v"), None)
    // the v1 metadata file still resolves the v1 file list
    val metaDir = new java.io.File(s"${t.root}/metadata")
    assert(metaDir.listFiles().count(_.getName.matches("v\\d+\\.json")) == 2)
  }

  test("time travel: stateAt reads the table as of a commit") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a"), (2, "b")).toDF("id", "v"), None)
    appendTo(t, Seq((3, "c")).toDF("id", "v"), None)
    // a later commit grows the live file set; history must not move
    appendTo(t, Seq((4, "d")).toDF("id", "v"), None)
    assert(t.liveVersions() == Seq(1L, 2L, 3L))
    assert(t.readTable("", t.stateAt(1).get).get.count() == 2)
    assert(t.readTable("", t.stateAt(2).get).get.count() == 3)
    assert(t.readTable("", t.stateAt(2).get).get.where(col("id") === 4).isEmpty, "v2 predates the third append")
    assert(t.readTable("", t.stateAt(3).get).get.where(col("id") === 4).select("v")
      .first().getString(0) == "d")
    assert(t.stateAt(0).isEmpty && t.stateAt(9).isEmpty)
  }

  test("expireSnapshots reclaims crashed writers' temp debris") {
    val root = scratchDir("graft-snaptbl")
    val t = new SnapshotTable(root, spark)
    appendTo(t, Seq((1, "a")).toDF("id", "v"), None)
    // plant the crash shapes: a candidate-metadata temp (died before
    // publishAtomic), append/merge staging dirs (died before cleanup), a
    // killed pipeline run's staged fan-out and offsets, and a manifest file
    // an older writer kept beside the docs (nothing reads it now)
    def file(path: String): java.io.File = {
      val f = new java.io.File(path)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array[Byte](1, 2, 3))
      f
    }
    def dir(path: String, files: String*): java.io.File = {
      val d = new java.io.File(path)
      d.mkdirs()
      files.foreach(f => file(s"$path/$f"))
      d
    }
    val stale = Seq(file(s"$root/metadata/.tmp-dead-writer-x"),
      file(s"$root/metadata/m-dead-writer-0.json"),
      dir(s"$root/_tmp-append-dead-writer-y", "part-0.parquet"),
      dir(s"$root/_tmp-merge-dead-writer-z"),
      dir(s"$root/_tmp-run-rdead", "group=0/sink=es/part-0.parquet"),
      dir(s"$root/_tmp-offsets-rdead", "slice=0/part-0.parquet"))
    // a dead writer's staged files are as old as their dirs (staging dirs
    // are aged by their newest entry)
    val old = System.currentTimeMillis() - 7200000L
    stale.foreach(f => Files.walk(f.toPath).forEach(p => p.toFile.setLastModified(old)))
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    for (f <- stale) assert(!f.exists(), s"aged temp debris must be reclaimed: $f")
    // a LIVE writer's fresh temps survive the grace window
    val fresh = Seq(dir(s"$root/_tmp-append-live-writer"), dir(s"$root/_tmp-run-rlive"),
      dir(s"$root/_tmp-offsets-rlive"), file(s"$root/metadata/m-live-writer-0.json"))
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    for (f <- fresh) assert(f.exists(), s"fresh temp state is protected by the grace window: $f")
    assert(t.readTable("").get.count() == 1)
    // a root whose first run was killed before its first commit: no
    // version, no metadata/ dir, only the run's staging — swept the same
    val unborn = scratchDir("graft-snaptbl")
    val killed = Seq(dir(s"$unborn/_tmp-run-rkilled", "group=0/sink=es/part-0.parquet"),
      dir(s"$unborn/_tmp-offsets-rkilled", "slice=0/part-0.parquet"))
    killed.foreach(f => Files.walk(f.toPath).forEach(p => p.toFile.setLastModified(old)))
    val live = Seq(dir(s"$unborn/_tmp-run-rlive", "group=0/sink=es/part-0.parquet"))
    val u = new SnapshotTable(unborn, spark)
    assert(u.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L) == 0)
    for (f <- killed) assert(!f.exists(), s"a killed first run's aged staging must be reclaimed: $f")
    for (f <- live) assert(f.exists(), s"a live first run's staging is protected: $f")
    assert(u.liveVersions().isEmpty && !new java.io.File(s"$unborn/metadata").exists())
  }

  test("expireSnapshots keeps an aged staging dir while a fresh file is inside") {
    val root = scratchDir("graft-snaptbl")
    val t = new SnapshotTable(root, spark)
    appendTo(t, Seq((1, "a")).toDF("id", "v"), None)
    // a LIVE long merge: its staging dir (and the task dirs under it) were
    // created hours ago, but a task is still writing a part file right now
    val live = new java.io.File(s"$root/_tmp-merge-long-writer")
    val task = new java.io.File(live, "_temporary/0")
    task.mkdirs()
    val part = new java.io.File(task, "part-7.parquet")
    java.nio.file.Files.write(part.toPath, Array[Byte](1, 2, 3))
    val old = System.currentTimeMillis() - 7200000L
    Seq(task, task.getParentFile, live).foreach(_.setLastModified(old))
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    assert(live.exists() && part.exists(),
      "a staging dir with a fresh file inside is a live writer's, not debris")
    // once the newest entry ages past the grace, the dir is debris
    part.setLastModified(old)
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    assert(!live.exists())
    assert(t.readTable("").get.count() == 1)
  }

  test("versions record the data schema; a doc without one still reads") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a")).toDF("id", "v"), Some("b1"))
    appendTo(t, Seq((2, "c")).toDF("id", "v"), Some("b2"))
    val st = t.state()
    val inferred = spark.read.parquet(st.files.map(f => s"${t.root}/${f.path}"): _*).schema
    assert(st.schemaOf("").contains(inferred))
    assert(t.stateAt(1).get.schemaOf("").contains(inferred))
    assert(t.readTable("").get.schema == inferred)
    // an ack: a sink slice and a lineage summary in one commit
    val sinkRows = Seq(("c1", 1)).toDF("conv_id", "turn_idx")
    val staged = scratchDir("graft-snaptbl-staged")
    sinkRows.write.mode("overwrite").parquet(staged)
    val sink = t.moveIn(staged, "sinks/sink_es")
    t.commit("group-0", Some("""{"groups":1,"counts":{"sink_es":1,"filtered":1}}"""),
      Seq(SnapshotTable.Slice("sinks/sink_es", sink, Some(sinkRows.schema))))
    val metrics = graft.pipeline.PipelineRunner.observedMetrics(t.root, spark)
    assert(metrics("events.total") == 2 && metrics("output.write_bytes") == sink.map(_.size).sum)
    // a fresh doc records each fact once: no key that a read derives
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def docFile(v: Int) = new java.io.File(f"${t.root}/metadata/v$v%06d.json")
    def node(v: Int) = mapper.readTree(docFile(v)).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    def keys(n: com.fasterxml.jackson.databind.JsonNode) = n.fieldNames().asScala.toSet
    def snapshotKeys(v: Int) = node(v).get("snapshots").elements().asScala.map(keys).toSeq
    assert(keys(node(3)) == Set("format", "schemas", "snapshots"))
    assert(snapshotKeys(3) == Seq(Set("id", "run", "txn", "added"), Set("id", "run", "txn", "added"),
      Set("id", "run", "txn", "summary", "added")))
    // the same version as the previous format wrote it — the derived keys
    // (version, snapshot ids, txn-key map, operations) and a lineage that
    // repeated the sink's write stats — before schemas were recorded, by a
    // writer that also pointed at manifest files: reads fall back to
    // inference and take the files from the snapshot history, never the
    // manifests (the .crc sidecar goes too, or the checksum would not match)
    val v2 = node(3)
    val snaps = v2.get("snapshots").elements().asScala.toSeq
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    v2.put("format", "graft-snapshot-v2").put("version", 3)
    v2.put("snapshot_id", snaps(2).get("id").asText())
    v2.put("parent_snapshot_id", snaps(1).get("id").asText())
    val txnKeys = v2.putObject("txn_keys")
    snaps.foreach { o =>
      txnKeys.put(o.get("txn").asText(), o.get("id").asText())
      o.put("operation", "append")
    }
    snaps(2).put("summary", s"""{"group":0,"groups":1,"counts":{"sink_es":1,"filtered":1},""" +
      s""""writes":{"sink_es":{"bytes":${sink.map(_.size).sum},"files":${sink.size}}}}""")
    v2.remove("schemas")
    val m = v2.putArray("manifests").addObject()
    m.put("path", "metadata/m-older-writer-0.json"); m.put("count", 2); m.put("bytes", 1L)
    mapper.writeValue(docFile(3), v2)
    new java.io.File(s"${t.root}/metadata/.v000003.json.crc").delete()
    val old = t.state()
    assert(old.version == 3 && old.schemaOf("").isEmpty)
    assert(old.txnKeys == Set("b1", "b2", "group-0") && old.snapshots.forall(_.operation == "append"))
    val rows = t.readTable("").get.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows == Map(1 -> "a", 2 -> "c"))
    assert(t.readTable("sinks/sink_es").get.count() == 1)
    assert(graft.pipeline.PipelineRunner.observedMetrics(t.root, spark) == metrics)
    // txn idempotence holds over it, and the next commit writes the new format
    assert(appendTo(t, Seq((2, "c")).toDF("id", "v"), Some("b2")).alreadyCommitted)
    assert(t.state().version == 3)
    appendTo(t, Seq((3, "d")).toDF("id", "v"), Some("b3"))
    assert(keys(node(4)) == Set("format", "schemas", "snapshots"))
    assert(node(4).get("format").asText() == "graft-snapshot-v3")
    assert(t.state().txnKeys == Set("b1", "b2", "group-0", "b3") && t.readTable("").get.count() == 3)
    assert(graft.pipeline.PipelineRunner.observedMetrics(t.root, spark) == metrics)
    // files that differ only in which columns they hold record the union
    // (a file without a column reads it as null) ...
    val u = tmpTable()
    appendTo(u, Seq((1, "a")).toDF("id", "v"), None)
    appendTo(u, Seq((2, "b", 3L)).toDF("id", "v", "w"), None)
    assert(u.state().schemaOf("").map(_.fieldNames.toSeq).contains(Seq("id", "v", "w")))
    val both = u.readTable("").get.collect().map(r => (r.getInt(0), r.getString(1), r.get(2))).toSet
    assert(both == Set((1, "a", null), (2, "b", 3L)))
    // ... while files that disagree on a column's type record none: reads infer
    val w = tmpTable()
    appendTo(w, Seq((1, "a")).toDF("id", "v"), None)
    appendTo(w, Seq((2L, "b")).toDF("id", "v"), None)
    assert(w.state().schemaOf("").isEmpty && w.readTable("").get.count() == 2)
  }

  test("time travel window is bounded by expireSnapshots retention") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a")).toDF("id", "v"), None)
    appendTo(t, Seq((2, "b")).toDF("id", "v"), None)
    appendTo(t, Seq((3, "c")).toDF("id", "v"), None)
    t.expireSnapshots(keepVersions = 2, orphanGraceMs = 0)
    assert(t.liveVersions() == Seq(2L, 3L))
    assert(t.stateAt(1).isEmpty, "expired versions are gone")
    assert(t.readTable("", t.stateAt(2).get).get.count() == 2)
    assert(t.readTable("", t.stateAt(3).get).get.count() == 3)
    assert(t.readTable("").get.count() == 3)
  }

  /** every message along an exception's cause chain */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("metadata-only commit: no files, summary round-trips, txn effectively-once") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a")).toDF("id", "v"), Some("data-1"))
    val files = t.state().files
    val c = t.commit("ack-1", Some("""{"n":1}"""))
    assert(!c.alreadyCommitted && c.addedFiles == 0 && c.addedBytes == 0)
    val retry = t.commit("ack-1", Some("""{"n":2}"""))
    assert(retry.alreadyCommitted && retry.snapshotId == c.snapshotId)
    val st = t.state()
    assert(st.version == 2, "the rejected retry must not add a version")
    assert(st.files == files && st.schemaOf("").isDefined)
    val snap = st.snapshotOf("ack-1").get
    assert(snap.operation == "metadata" && snap.added.isEmpty)
    assert(snap.summary.contains("""{"n":1}"""))
    assert(st.snapshotOf("data-1").get.summary.isEmpty)
    assert(t.readTable("").get.count() == 1)
    // a table of metadata commits alone holds no files and reads as empty
    val log = tmpTable()
    log.commit("group-0", Some("{}"))
    assert(log.readTable("").isEmpty && log.state().txnKeys == Set("group-0"))
  }

  test("a listed data file deleted out of band fails the read by name") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a"), (2, "b")).toDF("id", "v"), Some("b1"))
    appendTo(t, Seq((3, "c")).toDF("id", "v"), Some("b2"))
    val gone = t.state().snapshotOf("b2").get.added.head.path
    val name = gone.stripPrefix("data/")
    new java.io.File(s"${t.root}/$gone").delete()
    new java.io.File(s"${t.root}/data/.$name.crc").delete()
    // planning touches no file, so the reads resolve; running them fails
    // on the missing file, by name — never a silently shorter result
    val reads = Seq(t.readTable(""), t.readTable("", t.stateAt(2).get)).map(_.get)
    reads.foreach { df =>
      assert(df.inputFiles.exists(_.endsWith(name)))
      val e = intercept[Exception](df.collect())
      assert(messages(e).contains(name), messages(e))
    }
    // a version that does not list the file still reads in full
    assert(t.readTable("", t.stateAt(1).get).get.count() == 2)
  }

  test("a stray unreferenced parquet file under data/ is never read") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a"), (2, "b")).toDF("id", "v"), Some("b1"))
    val tmp = scratchDir("graft-stray")
    Seq((9, "stray")).toDF("id", "v").write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, java.nio.file.Paths.get(s"${t.root}/data/f-stray-0.parquet"))
    for (df <- Seq(t.readTable(""), t.readTable("", t.stateAt(1).get)).map(_.get)) {
      assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
      assert(!df.inputFiles.exists(_.contains("f-stray")))
    }
  }

  test("listing-free reads return what a listing read of the same files returns") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a"), (2, "b")).toDF("id", "v"), Some("b1"))
    appendTo(t, Seq((3, "c")).toDF("id", "v"), Some("b2"))
    appendTo(t, Seq((4, "d")).toDF("id", "v"), Some("b4"))
    appendTo(t, Seq((5, "e")).toDF("id", "v"), Some("b3"))
    def listed(files: Seq[SnapshotTable.FileEntry]) =
      spark.read.parquet(files.map(f => s"${t.root}/${f.path}"): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    for (v <- t.liveVersions()) {
      val st = t.stateAt(v).get
      assert(st.schemaOf("").isDefined, s"v$v records its schema")
      val df = t.readTable("", st).get
      assert(df.schema == listed(st.files).schema)
      assert(rows(df) == rows(listed(st.files)), s"v$v")
    }
    assert(rows(t.readTable("", t.stateAt(2).get).get) == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(rows(t.readTable("").get) == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")))
  }

  test("a version doc of another format is refused by name") {
    val t = tmpTable()
    appendTo(t, Seq((1, "a")).toDF("id", "v"), None)
    val doc = new java.io.File(s"${t.root}/metadata/v000001.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val written = Files.readAllBytes(doc.toPath)
    val node = mapper.readTree(doc).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("format", "graft-snapshot-v1")
    mapper.writeValue(doc, node)
    new java.io.File(s"${t.root}/metadata/.v000001.json.crc").delete()
    val e = intercept[IllegalStateException](t.readTable(""))
    assert(e.getMessage.contains("v000001.json is a graft-snapshot-v1 version doc") &&
      e.getMessage.contains("reads graft-snapshot-v2 and graft-snapshot-v3"), e.getMessage)
    // a doc a crash cut short, empty or mid-write, is refused by name too
    for (torn <- Seq(Array.emptyByteArray, written.take(written.length / 2))) {
      Files.write(doc.toPath, torn)
      for (op <- Seq(() => t.readTable(""), () => t.commit("b2", None))) {
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains("v000001.json is a torn or truncated version doc"), e.getMessage)
      }
    }
  }

  test("one commit lists slices of several tables; each reads its own files and schema") {
    val root = scratchDir("graft-snaplog")
    val log = new SnapshotTable(root, spark)
    def staged(df: org.apache.spark.sql.DataFrame): String = {
      val dir = scratchDir("graft-snaplog-staged")
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    val a = Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(2)
    val b = Seq(("k", 7L)).toDF("key", "n")
    val slices = Seq(
      SnapshotTable.Slice("a", log.moveIn(staged(a), "a"), Some(a.schema)),
      SnapshotTable.Slice("b/c", log.moveIn(staged(b), "b/c"), Some(b.schema)))
    assert(slices.forall(_.files.nonEmpty) && slices(1).files.forall(_.path.startsWith("b/c/data/")))
    // moved but not committed: invisible
    assert(log.readTable("a").isEmpty && log.state().version == 0)
    val c = log.commit("t-1", Some("{}"), slices)
    assert(!c.alreadyCommitted && c.addedFiles == slices.map(_.files.size).sum)
    assert(log.liveVersions() == Seq(1L) && new java.io.File(s"$root/metadata/v000001.json").exists())
    val st = log.state()
    assert(st.schemaDdl.keySet == Set("a", "b/c") && st.schemaOf("").isEmpty)
    assert(log.readTable("a").get.collect().map(r => r.getInt(0) -> r.getString(1)).toSet ==
      Set(1 -> "a", 2 -> "b"))
    assert(log.readTable("b/c").get.columns.toSeq == Seq("key", "n"))
    assert(log.readTable("b/c").get.count() == 1 && log.readTable("").isEmpty)
    // a retry of the key loses and deletes the files it moved in
    val again = log.moveIn(staged(b), "b/c")
    assert(log.commit("t-1", Some("{}"), Seq(SnapshotTable.Slice("b/c", again, None))).alreadyCommitted)
    assert(again.forall(f => !new java.io.File(s"$root/${f.path}").exists()))
    // files moved and never committed are orphans of their table's data dir
    val stray = log.moveIn(staged(b), "b/c")
    assert(log.expireSnapshots(orphanGraceMs = 0) == stray.size)
    assert(log.readTable("b/c").get.count() == 1 && log.readTable("a").get.count() == 2)
  }

  test("a staged commit takes exactly the .parquet files listFiles finds, at any depth") {
    val t = tmpTable()
    val staged = scratchDir("graft-staged")
    // nested k=v partition dirs, each file with its .crc, and _SUCCESS
    Seq((1, "a", "x", 1), (2, "b", "x", 2), (3, "c", "y", 1), (4, "d", "y", 1)).toDF("id", "v", "k", "j")
      .write.partitionBy("k", "j").mode("overwrite").parquet(staged)
    // debris: what a failed task attempt leaves, and names the filter skips
    val debris = Seq("_temporary/0/_temporary/attempt_0/part-00000.parquet.tmp",
      "_temporary/0/.part-00000.parquet.tmp.crc", "k=x/_common_metadata.parquet",
      "k=y/j=1/.hidden.parquet")
    debris.foreach { rel =>
      val f = java.nio.file.Paths.get(s"$staged/$rel")
      Files.createDirectories(f.getParent)
      Files.write(f, Array[Byte](1))
    }
    val fs = new org.apache.hadoop.fs.Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listed(): Seq[(String, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(staged), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toUri.getPath.stripPrefix(staged + "/"), f.getLen)).toSeq
    }
    def onDisk(): Set[String] = {
      val root = java.nio.file.Paths.get(staged)
      val files = Set.newBuilder[String]
      Files.walk(root).forEach(p => if (Files.isRegularFile(p)) files += root.relativize(p).toString)
      files.result()
    }
    def parquet(files: Seq[(String, Long)]) = files.filter { case (p, _) =>
      val n = p.split('/').last
      !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
    }
    val before = listed()
    val expected = parquet(before)
    assert(expected.size >= 3 && expected.forall(_._1.matches("k=[xy]/j=[12]/part-.*")), expected)
    assert(before.exists(_._1 == "_SUCCESS") && onDisk().exists(_.endsWith(".parquet.crc")))
    val r = t.commit("s1", None, Seq(SnapshotTable.Slice("", t.moveIn(staged), None)))
    assert(r.addedFiles == expected.size && r.addedBytes == expected.map(_._2).sum)
    assert(t.state().files.map(_.size).sorted == expected.map(_._2).sorted)
    // the data files moved, with their .crc; everything else stayed
    val after = onDisk()
    assert(parquet(listed()).isEmpty && !after.exists(_.endsWith(".parquet.crc")), after)
    assert(debris.forall(after.contains) && after.contains("_SUCCESS"), after)
    assert(t.readTable("").get.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }
}
