package graft

import java.nio.file.Files
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
    assert(t.state().version == 0 && t.read().isEmpty)
    val r1 = t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), txn = None)
    assert(!r1.alreadyCommitted && t.state().version == 1)
    val r2 = t.append(Seq((3, "c")).toDF("id", "v"), txn = None)
    assert(t.state().version == 2 && r2.snapshotId != r1.snapshotId)
    assert(t.read().get.count() == 3)
    // metadata records real file sizes
    assert(t.state().files.forall(_.size > 0))
    assert(r1.addedBytes > 0 && r2.addedBytes > 0)
  }

  test("txn keys make appends effectively-once") {
    val t = tmpTable()
    val first = t.append(Seq((1, "a")).toDF("id", "v"), txn = Some("batch-1"))
    val retry = t.append(Seq((1, "a")).toDF("id", "v"), txn = Some("batch-1"))
    assert(!first.alreadyCommitted && retry.alreadyCommitted)
    assert(retry.snapshotId == first.snapshotId)
    assert(t.read().get.count() == 1)
    assert(t.state().version == 1, "the rejected retry must not add a version")
  }

  test("concurrent appenders all land; versions strictly serialize") {
    val t = tmpTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future(t.append(Seq((i, s"w$i")).toDF("id", "v"), txn = Some(s"w-$i")))
    }
    val results = fs.map(Await.result(_, 2.minutes))
    assert(results.forall(!_.alreadyCommitted))
    assert(t.state().version == 4)
    assert(t.read().get.count() == 4)
    // every committed snapshot id is distinct and recorded in history
    assert(t.state().snapshots.map(_.id).distinct.size == 4)
  }

  test("concurrent same-txn appenders: exactly one wins, no duplicate rows") {
    val t = tmpTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 3).map { _ =>
      Future(t.append(Seq((42, "x")).toDF("id", "v"), txn = Some("the-batch")))
    }
    val results = racers.map(Await.result(_, 2.minutes))
    assert(results.count(!_.alreadyCommitted) == 1)
    assert(results.map(_.snapshotId).distinct.size == 1)
    assert(t.read().get.count() == 1)
  }

  test("a reader's resolved snapshot is immune to commits that land after it") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), None)
    val view = t.read().get // resolves version 1's file list NOW
    t.append(Seq((3, "c")).toDF("id", "v"), None)
    // the append advanced the table, but the in-flight reader still sees
    // its snapshot
    assert(view.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b")))
    assert(t.read().get.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("historical snapshots stay readable (metadata retained per version)") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    t.append(Seq((2, "b")).toDF("id", "v"), None)
    // the v1 metadata file still resolves the v1 file list
    val metaDir = new java.io.File(s"${t.root}/metadata")
    assert(metaDir.listFiles().count(_.getName.matches("v\\d+\\.json")) == 2)
  }

  test("time travel: readVersion/readSnapshot see the table as of a commit") {
    val t = tmpTable()
    val r1 = t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), None)
    t.append(Seq((3, "c")).toDF("id", "v"), None)
    // a later commit grows the live file set; history must not move
    t.append(Seq((4, "d")).toDF("id", "v"), None)
    assert(t.liveVersions() == Seq(1L, 2L, 3L))
    assert(t.readVersion(1).get.count() == 2)
    assert(t.readVersion(2).get.count() == 3)
    assert(t.readVersion(2).get.where(col("id") === 4).isEmpty, "v2 predates the third append")
    assert(t.readVersion(3).get.where(col("id") === 4).select("v")
      .first().getString(0) == "d")
    assert(t.readSnapshot(r1.snapshotId).get.count() == 2)
    assert(t.readVersion(0).isEmpty && t.readVersion(9).isEmpty &&
      t.readSnapshot("no-such").isEmpty)
  }

  test("manifest splitting: file list spills past the inline limit, appends " +
    "reuse prior manifests, coalesce bounds fan-out, expiry reclaims") {
    val root = scratchDir("graft-snaptbl")
    val t = new SnapshotTable(root, spark,
      inlineFileLimit = 2, manifestCoalesceAt = 3)
    def one(i: Int) = Seq((i, s"v$i")).toDF("id", "v").coalesce(1)
    (1 to 6).foreach(i => t.append(one(i), txn = Some(s"b-$i")))
    // v1–v2 inline; v3 crosses the 2-file limit → one manifest of all 3
    assert(t.stateAt(2).get.manifestRefs.isEmpty)
    val v3 = t.stateAt(3).get
    assert(v3.manifestRefs.size == 1 && v3.manifestRefs.head.count == 3)
    // v4–v5 append ONE manifest each, reusing v3's untouched (O(added) commits)
    val v4 = t.stateAt(4).get
    assert(v4.manifestRefs.size == 2 &&
      v4.manifestRefs.head == v3.manifestRefs.head)
    assert(t.stateAt(5).get.manifestRefs.size == 3)
    // v6 would be 4 manifests > coalesceAt=3 → merged back to one
    val v6 = t.stateAt(6).get
    assert(v6.manifestRefs.size == 1 && v6.manifestRefs.head.count == 6)
    // resolution is complete at every layout era, and reads agree
    assert(v6.files.size == 6 && t.read().get.count() == 6)
    assert(t.readVersion(2).get.count() == 2)
    assert(t.readVersion(4).get.count() == 4)
    // a reader with DEFAULT thresholds resolves the split layout identically
    val reader = new SnapshotTable(root, spark)
    assert(reader.read().get.count() == 6)
    assert(reader.state().files.toSet == v6.files.toSet)
    // txn idempotence still holds across the layout switch
    assert(t.append(one(3), txn = Some("b-3")).alreadyCommitted)
    // expiry drops old versions' manifests; disk holds exactly the live refs
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 0)
    val onDisk = new java.io.File(s"$root/metadata").listFiles()
      .map(_.getName).filter(_.startsWith("m-")).map(n => s"metadata/$n").toSet
    assert(onDisk == t.state().manifestRefs.map(_.path).toSet)
    assert(t.read().get.count() == 6)
  }

  test("manifest mode: racing writers leave no manifest debris") {
    val root = scratchDir("graft-snaptbl")
    val t = new SnapshotTable(root, spark,
      inlineFileLimit = 1, manifestCoalesceAt = 8)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 4).map { i =>
      Future(t.append(Seq((i, i.toLong)).toDF("k", "v").coalesce(1), None))
    }
    racers.foreach(Await.result(_, 2.minutes))
    val rows = t.read().get.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == Map(1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 4L))
    // every manifest on disk is referenced by SOME live version — CAS
    // losers deleted theirs
    val live = t.liveVersions()
      .flatMap(v => t.stateAt(v).get.manifestRefs.map(_.path)).toSet
    val onDisk = new java.io.File(s"$root/metadata").listFiles()
      .map(_.getName).filter(_.startsWith("m-")).map(n => s"metadata/$n").toSet
    assert(onDisk == live)
  }

  test("expireSnapshots reclaims crashed writers' temp debris") {
    val root = scratchDir("graft-snaptbl")
    val t = new SnapshotTable(root, spark)
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    // plant the three crash shapes: a candidate-metadata temp (died before
    // publishAtomic) and append/merge staging dirs (died before cleanup)
    val staleMeta = new java.io.File(s"$root/metadata/.tmp-dead-writer-x")
    java.nio.file.Files.write(staleMeta.toPath, "{}".getBytes)
    val staleAppend = new java.io.File(s"$root/_tmp-append-dead-writer-y")
    val staleMerge = new java.io.File(s"$root/_tmp-merge-dead-writer-z")
    staleAppend.mkdirs(); staleMerge.mkdirs()
    // a dead writer's staged file is as old as its dir (staging dirs are
    // aged by their newest entry)
    val stalePart = new java.io.File(staleAppend, "part-0.parquet")
    java.nio.file.Files.write(stalePart.toPath, Array[Byte](1, 2, 3))
    val old = System.currentTimeMillis() - 7200000L
    Seq(staleMeta, stalePart, staleAppend, staleMerge).foreach(_.setLastModified(old))
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    assert(!staleMeta.exists() && !staleAppend.exists() && !staleMerge.exists(),
      "aged temp debris must be reclaimed")
    // a LIVE writer's fresh temp survives the grace window
    val fresh = new java.io.File(s"$root/_tmp-append-live-writer")
    fresh.mkdirs()
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = 3600000L)
    assert(fresh.exists(), "fresh temp state is protected by the grace window")
    assert(t.read().get.count() == 1)
  }

  test("expireSnapshots keeps an aged staging dir while a fresh file is inside") {
    val root = scratchDir("graft-snaptbl")
    val t = new SnapshotTable(root, spark)
    t.append(Seq((1, "a")).toDF("id", "v"), None)
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
    assert(t.read().get.count() == 1)
  }

  test("versions record the data schema; a doc without one still reads") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    t.append(Seq((2, "c")).toDF("id", "v"), None)
    val st = t.state()
    val inferred = spark.read.parquet(st.files.map(f => s"${t.root}/${f.path}"): _*).schema
    assert(st.schema.contains(inferred))
    assert(t.stateAt(1).get.schema.contains(inferred))
    assert(t.read().get.schema == inferred)
    // a version written before schemas were recorded: reads fall back to
    // inference (the .crc sidecar goes too, or the checksum would not match)
    val doc = new java.io.File(s"${t.root}/metadata/v000002.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(doc).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("schemas")
    mapper.writeValue(doc, node)
    new java.io.File(s"${t.root}/metadata/.v000002.json.crc").delete()
    assert(t.state().schema.isEmpty)
    val rows = t.read().get.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows == Map(1 -> "a", 2 -> "c"))
    // files that differ only in which columns they hold record the union
    // (a file without a column reads it as null) ...
    val u = tmpTable()
    u.append(Seq((1, "a")).toDF("id", "v"), None)
    u.append(Seq((2, "b", 3L)).toDF("id", "v", "w"), None)
    assert(u.state().schema.map(_.fieldNames.toSeq).contains(Seq("id", "v", "w")))
    val both = u.read().get.collect().map(r => (r.getInt(0), r.getString(1), r.get(2))).toSet
    assert(both == Set((1, "a", null), (2, "b", 3L)))
    // ... while files that disagree on a column's type record none: reads infer
    val w = tmpTable()
    w.append(Seq((1, "a")).toDF("id", "v"), None)
    w.append(Seq((2L, "b")).toDF("id", "v"), None)
    assert(w.state().schema.isEmpty && w.read().get.count() == 2)
  }

  test("time travel window is bounded by expireSnapshots retention") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    t.append(Seq((2, "b")).toDF("id", "v"), None)
    t.append(Seq((3, "c")).toDF("id", "v"), None)
    t.expireSnapshots(keepVersions = 2, orphanGraceMs = 0)
    assert(t.liveVersions() == Seq(2L, 3L))
    assert(t.readVersion(1).isEmpty, "expired versions are gone")
    assert(t.readVersion(2).get.count() == 2)
    assert(t.readVersion(3).get.count() == 3)
    assert(t.read().get.count() == 3)
  }

  /** every message along an exception's cause chain */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("metadata-only commit: no files, summary round-trips, txn effectively-once") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"), Some("data-1"))
    val files = t.state().files
    val c = t.commit("ack-1", """{"n":1}""")
    assert(!c.alreadyCommitted && c.addedFiles == 0 && c.addedBytes == 0)
    val retry = t.commit("ack-1", """{"n":2}""")
    assert(retry.alreadyCommitted && retry.snapshotId == c.snapshotId)
    val st = t.state()
    assert(st.version == 2, "the rejected retry must not add a version")
    assert(st.files == files && st.schema.isDefined)
    val snap = t.snapshotForTxn("ack-1").get
    assert(snap.operation == "metadata" && snap.added.isEmpty)
    assert(snap.summary.contains("""{"n":1}"""))
    assert(t.snapshotForTxn("data-1").get.summary.isEmpty)
    assert(t.read().get.count() == 1)
    // a table of metadata commits alone holds no files and reads as empty
    val log = tmpTable()
    log.commit("group-0", "{}")
    assert(log.read().isEmpty && log.state().txnKeys.keySet == Set("group-0"))
  }

  test("a listed data file deleted out of band fails the read by name") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), Some("b1"))
    t.append(Seq((3, "c")).toDF("id", "v"), Some("b2"))
    val gone = t.snapshotForTxn("b2").get.added.head.path
    val name = gone.stripPrefix("data/")
    new java.io.File(s"${t.root}/$gone").delete()
    new java.io.File(s"${t.root}/data/.$name.crc").delete()
    // planning touches no file, so the reads resolve; running them fails
    // on the missing file, by name — never a silently shorter result
    val reads = Seq(t.read(), t.readVersion(2), t.readTable("")).map(_.get)
    reads.foreach { df =>
      assert(df.inputFiles.exists(_.endsWith(name)))
      val e = intercept[Exception](df.collect())
      assert(messages(e).contains(name), messages(e))
    }
    // a version that does not list the file still reads in full
    assert(t.readVersion(1).get.count() == 2)
    assert(t.readTable("", t.stateAt(1).get).get.count() == 2)
  }

  test("a stray unreferenced parquet file under data/ is never read") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), Some("b1"))
    val tmp = scratchDir("graft-stray")
    Seq((9, "stray")).toDF("id", "v").write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, java.nio.file.Paths.get(s"${t.root}/data/f-stray-0.parquet"))
    for (df <- Seq(t.read(), t.readVersion(1), t.readTable("")).map(_.get)) {
      assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
      assert(!df.inputFiles.exists(_.contains("f-stray")))
    }
  }

  test("listing-free reads return what a listing read of the same files returns") {
    val t = tmpTable()
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), Some("b1"))
    t.append(Seq((3, "c")).toDF("id", "v"), Some("b2"))
    t.append(Seq((4, "d")).toDF("id", "v"), Some("b4"))
    t.append(Seq((5, "e")).toDF("id", "v"), Some("b3"))
    def listed(files: Seq[SnapshotTable.FileEntry]) =
      spark.read.parquet(files.map(f => s"${t.root}/${f.path}"): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    for (v <- t.liveVersions()) {
      val st = t.stateAt(v).get
      assert(st.schema.isDefined, s"v$v records its schema")
      val df = t.readVersion(v).get
      assert(df.schema == listed(st.files).schema)
      assert(rows(df) == rows(listed(st.files)), s"v$v")
    }
    assert(rows(t.readVersion(2).get) == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(rows(t.read().get) == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")))
    // a read of an earlier state takes that state's files
    assert(rows(t.readTable("", t.stateAt(3).get).get) == rows(listed(t.stateAt(3).get.files)))
  }

  test("a version doc of another format is refused by name") {
    val t = tmpTable()
    t.append(Seq((1, "a")).toDF("id", "v"), None)
    val doc = new java.io.File(s"${t.root}/metadata/v000001.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(doc).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("format", "graft-snapshot-v1")
    mapper.writeValue(doc, node)
    new java.io.File(s"${t.root}/metadata/.v000001.json.crc").delete()
    val e = intercept[IllegalStateException](t.read())
    assert(e.getMessage.contains("v000001.json is a graft-snapshot-v1 version doc") &&
      e.getMessage.contains("reads graft-snapshot-v2 only"), e.getMessage)
  }

  test("one commit lists slices of several tables; each reads its own files and schema") {
    val root = scratchDir("graft-snaplog")
    val log = new SnapshotTable(root, spark, inlineFileLimit = 2)
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
    assert(log.readTable("a").isEmpty && log.latest().version == 0)
    val c = log.commit("t-1", "{}", slices)
    assert(!c.alreadyCommitted && c.addedFiles == slices.map(_.files.size).sum)
    assert(log.liveVersions() == Seq(1L) && new java.io.File(s"$root/metadata/v000001.json").exists())
    val st = log.latest()
    assert(st.schemaDdl.keySet == Set("a", "b/c") && st.schema.isEmpty)
    assert(log.readTable("a").get.collect().map(r => r.getInt(0) -> r.getString(1)).toSet ==
      Set(1 -> "a", 2 -> "b"))
    assert(log.readTable("b/c").get.columns.toSeq == Seq("key", "n"))
    assert(log.readTable("b/c").get.count() == 1 && log.read().isEmpty)
    // a retry of the key loses and deletes the files it moved in
    val again = log.moveIn(staged(b), "b/c")
    assert(log.commit("t-1", "{}", Seq(SnapshotTable.Slice("b/c", again, None))).alreadyCommitted)
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
    val r = t.commitStagedDir(staged, Some("s1"))
    assert(r.addedFiles == expected.size && r.addedBytes == expected.map(_._2).sum)
    assert(t.state().files.map(_.size).sorted == expected.map(_._2).sorted)
    // the data files moved, with their .crc; everything else stayed
    val after = onDisk()
    assert(parquet(listed()).isEmpty && !after.exists(_.endsWith(".parquet.crc")), after)
    assert(debris.forall(after.contains) && after.contains("_SUCCESS"), after)
    assert(t.read().get.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }
}
