package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.{CountingFs, SparkSpec}

/** The Iceberg-format bridge: export writes v2 metadata any Iceberg
  * reader opens; read replays the current snapshot strictly from the
  * manifests (no directory inference) and refuses tables beyond the
  * floor (delete files, non-identity transforms, nested types,
  * future format versions) instead of misreading them. */
class IcebergBridgeSpec extends SparkSpec {
  import spark.implicits._

  private def export(root: String): TimeseriesStore = {
    val st = new TimeseriesStore(spark, s"$root/wh")
    val a = Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value")
    val b = Seq((ts("2024-01-03T03:00:00"), 3.0)).toDF("time", "value")
    st.save("f", a)
    val pinned = st.tableVersion("f")
    st.save("f", b) // lands AFTER the pin; must not leak into the export
    st.exportSnapshotIceberg("f", s"$root/ib", asOfVersion = Some(pinned))
    st
  }

  private def readBack(dir: String): Set[(String, Double, String)] =
    IcebergBridge.read(spark, dir)
      .select(col("time"), col("value"), col("partition"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1), r.getString(2)))
      .toSet

  private val expected = Set(
    ("2024-01-01 01:00:00.0", 1.0, "2024-01-01"),
    ("2024-01-02 02:00:00.0", 2.0, "2024-01-02"))

  /** Rewrite a metadata file in place — and drop Hadoop LocalFS's
    * `.crc` sidecar, which the bridge's writer created and a byte-level
    * test edit would otherwise invalidate. */
  private def rewrite(p: java.nio.file.Path, content: String): Unit = {
    Files.writeString(p, content)
    Files.deleteIfExists(p.getParent.resolve("." + p.getFileName.toString + ".crc"))
  }

  test("exportSnapshotIceberg roundtrips through IcebergBridge.read, pinned version honored") {
    val root = tmpDir("ibrt")
    export(root)
    assert(readBack(s"$root/ib") === expected)

    // the metadata tree is complete and v2
    val metaDir = Paths.get(s"$root/ib/metadata")
    assert(Files.readString(metaDir.resolve("version-hint.text")) === "1")
    val meta = Files.readString(metaDir.resolve("v1.metadata.json"))
    assert(meta.contains("\"format-version\":2"))
    assert(meta.contains("\"transform\":\"identity\""))
    assert(meta.contains("\"timestamptz\""))
  }

  test("reads are manifest-driven: planted decoy parquet is invisible") {
    val root = tmpDir("ibdecoy")
    export(root)
    Seq((ts("2024-09-09T09:00:00"), 99.0)).toDF("time", "value")
      .write.parquet(s"$root/ib/partition=9999-12-31")
    assert(readBack(s"$root/ib") === expected)
  }

  test("relocated tree reads via location-relative resolution") {
    val root = tmpDir("ibmove")
    export(root)
    val moved = tmpDir("ibmoved") + "/table"
    Files.move(Paths.get(s"$root/ib"), Paths.get(moved))
    // recorded absolute location no longer exists; resolve() re-roots
    assert(readBack(moved) === expected)
  }

  test("readWhere prunes files from manifests before the scan") {
    val root = tmpDir("ibprune")
    export(root)
    val pruned = IcebergBridge.readWhere(spark, s"$root/ib",
      pv => pv("partition") == "2024-01-02")
    assert(pruned.inputFiles.length === 1) // one file never reached the scan
    assert(pruned.select("value").as[Double].collect().toSeq === Seq(2.0))
  }

  test("manifest stats: record counts and LE numeric bounds per file") {
    val root = tmpDir("ibstats")
    export(root)
    val metaDir = Paths.get(s"$root/ib/metadata")
    val mPath = {
      import scala.jdk.CollectionConverters._
      val listing = Files.list(metaDir)
      try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith("-m0.avro")).get
      finally listing.close()
    }
    val bytes = Files.readAllBytes(mPath)
    val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(bytes),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    import scala.jdk.CollectionConverters._
    val entries = rd.iterator().asScala.toSeq
    assert(rd.getMetaString("format-version") === "2")
    assert(rd.getMetaString("content") === "data")
    rd.close()
    assert(entries.size === 2)
    val dfs = entries.map(_.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord])
    assert(dfs.map(_.get("record_count").asInstanceOf[Long]).sum === 2L)
    // the double 'value' column carries little-endian bounds, keyed by
    // its field id from the table schema (verbatim-mode store files
    // also carry created_time, so the id is schema-derived, not fixed)
    val metaJson = Files.readString(metaDir.resolve("v1.metadata.json"))
    val valueId = """\{"id":(\d+),"name":"value"""".r
      .findFirstMatchIn(metaJson).get.group(1).toInt
    val allBounds = dfs.flatMap { d =>
      Option(d.get("lower_bounds")).toSeq.flatMap(
        _.asInstanceOf[java.util.List[org.apache.avro.generic.GenericRecord]].asScala)
    }.filter(_.get("key").asInstanceOf[Int] == valueId).map { kv =>
      val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.getDouble
    }
    assert(allBounds.toSet === Set(1.0, 2.0))
  }

  test("refuses delete manifests, non-identity transforms, future format versions") {
    val root = tmpDir("ibrefuse")
    export(root)
    val metaPath = Paths.get(s"$root/ib/metadata/v1.metadata.json")
    val meta = Files.readString(metaPath)

    // future format version
    rewrite(metaPath, meta.replace("\"format-version\":2", "\"format-version\":3"))
    val e1 = intercept[IllegalArgumentException](readBack(s"$root/ib"))
    assert(e1.getMessage.contains("format-version"))

    // unsupported transform spelling refuses at parse
    rewrite(metaPath, meta.replace("\"transform\":\"identity\"", "\"transform\":\"zorder[2]\""))
    val e2 = intercept[IllegalArgumentException](readBack(s"$root/ib"))
    assert(e2.getMessage.contains("transform"))

    // a SUPPORTED non-identity transform whose source column is not in
    // the data files (store exports strip partition columns) must
    // refuse at the scan probe, never read silent nulls
    rewrite(metaPath, meta.replace("\"transform\":\"identity\"", "\"transform\":\"bucket[16]\""))
    val e2b = intercept[IllegalArgumentException](readBack(s"$root/ib"))
    assert(e2b.getMessage.contains("absent from the data files"))

    // nested column type in the schema
    rewrite(metaPath, meta.replaceFirst(
      "\"type\":\"double\"",
      "\"type\":{\"type\":\"list\",\"element-id\":99,\"element\":\"double\",\"element-required\":false}"))
    val e3 = intercept[IllegalArgumentException](readBack(s"$root/ib"))
    assert(e3.getMessage.contains("nested"))
    rewrite(metaPath, meta) // restore
    assert(readBack(s"$root/ib") === expected)
  }

  test("empty table (no current snapshot) reads as an empty frame with the schema") {
    val root = tmpDir("ibempty")
    export(root)
    val metaPath = Paths.get(s"$root/ib/metadata/v1.metadata.json")
    val meta = Files.readString(metaPath)
    val snapId = """"current-snapshot-id":(\d+)""".r
      .findFirstMatchIn(meta).get.group(1)
    rewrite(metaPath,
      meta.replace(s""""current-snapshot-id":$snapId""", "\"current-snapshot-id\":-1"))
    val out = IcebergBridge.read(spark, s"$root/ib")
    assert(out.columns.toSeq === Seq("time", "created_time", "value", "partition"))
    assert(out.count() === 0L)
  }

  test("syncSnapshotIceberg publishes append+delete as one new snapshot; time travel holds") {
    val root = tmpDir("ibsync")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib") // snapshot 1
    val metaV1 = Files.readString(Paths.get(s"$root/ib/metadata/v1.metadata.json"))
    val snap1 = """"current-snapshot-id":(\d+)""".r.findFirstMatchIn(metaV1).get.group(1).toLong

    st.save("f", Seq((ts("2024-01-03T03:00:00"), 3.0)).toDF("time", "value"))
    st.deleteWhere("f", col("time") < ts("2024-01-02T00:00:00"))
    st.syncSnapshotIceberg("f", s"$root/ib") // snapshot 2

    // current snapshot sees the net state
    assert(readBack(s"$root/ib") === Set(
      ("2024-01-02 02:00:00.0", 2.0, "2024-01-02"),
      ("2024-01-03 03:00:00.0", 3.0, "2024-01-03")))
    // metadata advanced; v2 names both snapshots and the metadata-log
    assert(Files.readString(Paths.get(s"$root/ib/metadata/version-hint.text")) === "2")
    val metaV2 = Files.readString(Paths.get(s"$root/ib/metadata/v2.metadata.json"))
    assert(metaV2.contains("\"metadata-log\":[{\"metadata-file\""))
    assert("\"snapshot-id\"".r.findAllIn(metaV2).size >= 2)
    // time travel: the pre-sync snapshot still reads the ORIGINAL rows
    // (removed bytes stay on disk for exactly this)
    val old = IcebergBridge.readSnapshot(spark, s"$root/ib", snap1)
      .select(col("time"), col("value"), col("partition"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1), r.getString(2))).toSet
    assert(old === expected)
    // idle sync is a no-op: version-hint stays at 2
    st.syncSnapshotIceberg("f", s"$root/ib")
    assert(Files.readString(Paths.get(s"$root/ib/metadata/version-hint.text")) === "2")
  }

  test("importSnapshot routes an iceberg-metadata tree through the manifests") {
    val root = tmpDir("ibimp")
    val st = new TimeseriesStore(spark, s"$root/wh")
    export(root)
    // decoy: invisible to a manifest-driven import, fatal to a raw read
    Seq((ts("2024-09-09T09:00:00"), 99.0)).toDF("time", "value")
      .write.parquet(s"$root/ib/partition=9999-12-31")
    st.importSnapshot("imported", s"$root/ib")
    val got = st.read("imported").select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet
    assert(got === Set(("2024-01-01 01:00:00.0", 1.0), ("2024-01-02 02:00:00.0", 2.0)))
  }

  test("readRange skips files from manifest bounds; bounds survive a sync") {
    val root = tmpDir("ibrange")
    val st = export(root)
    // value bounds: file(1.0) and file(2.0); [1.5, 3.0] must skip one
    val pruned = IcebergBridge.readRange(spark, s"$root/ib", "value", 1.5, 3.0)
    assert(pruned.inputFiles.length === 1)
    assert(pruned.select("value").as[Double].collect().toSeq === Seq(2.0))
    // after a sync the CARRIED entries keep their bounds (the zone map
    // must not erode) and the new files get their own. The sync also
    // pulls in export()'s post-pin batch (3.0) — the store had it all
    // along, only the pinned export excluded it.
    st.save("f", Seq((ts("2024-01-04T04:00:00"), 9.0)).toDF("time", "value"))
    st.syncSnapshotIceberg("f", s"$root/ib")
    val pruned2 = IcebergBridge.readRange(spark, s"$root/ib", "value", 1.5, 3.0)
    assert(pruned2.inputFiles.length === 2) // 2.0 (carried bounds) + 3.0 (new)
    assert(pruned2.select("value").as[Double].collect().toSeq.sorted === Seq(2.0, 3.0))
    val pruned9 = IcebergBridge.readRange(spark, s"$root/ib", "value", 8.0, 10.0)
    assert(pruned9.inputFiles.length === 1)
    assert(pruned9.select("value").as[Double].collect().toSeq === Seq(9.0))
  }

  test("expireSnapshots deletes expired-only files and drops old snapshots from metadata") {
    val root = tmpDir("ibexp")
    val st = export(root)
    val metaV1 = Files.readString(Paths.get(s"$root/ib/metadata/v1.metadata.json"))
    val snap1 = """"current-snapshot-id":(\d+)""".r.findFirstMatchIn(metaV1).get.group(1).toLong
    st.save("f", Seq((ts("2024-01-04T04:00:00"), 9.0)).toDF("time", "value"))
    st.deleteWhere("f", col("time") < ts("2024-01-02T00:00:00")) // retires 1.0's file
    st.syncSnapshotIceberg("f", s"$root/ib")

    val deleted = IcebergBridge.expireSnapshots(spark, s"$root/ib", retainLast = 1)
    assert(deleted === 1) // exactly the retired 1.0 file
    // current snapshot unaffected (includes export()'s post-pin 3.0,
    // which the sync pulled in from the store)
    assert(readBack(s"$root/ib") === Set(
      ("2024-01-02 02:00:00.0", 2.0, "2024-01-02"),
      ("2024-01-03 03:00:00.0", 3.0, "2024-01-03"),
      ("2024-01-04 04:00:00.0", 9.0, "2024-01-04")))
    // time travel into the expired range now refuses
    val e = intercept[IllegalArgumentException](
      IcebergBridge.readSnapshot(spark, s"$root/ib", snap1).collect())
    assert(e.getMessage.contains("not among snapshots"))
    // metadata advanced and carries exactly one snapshot
    assert(Files.readString(Paths.get(s"$root/ib/metadata/version-hint.text")) === "3")
    val metaV3 = Files.readString(Paths.get(s"$root/ib/metadata/v3.metadata.json"))
    assert(""""snapshot-id":\d+,"parent""".r.findAllIn(metaV3).size <= 1)
  }

  test("partition values with URL-encodable characters survive the file_path join") {
    // Spark reports _metadata.file_path URI-ENCODED (a space becomes
    // %20); keying the partition-value join by the raw Path string
    // would match nothing and silently drop the file's rows
    val root = tmpDir("ibspace")
    Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value")
      .coalesce(1).write.parquet(s"$root/s0")
    val listing = Files.list(Paths.get(s"$root/s0"))
    val part = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.toString)
        .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    } finally listing.close()
    Files.createDirectories(Paths.get(s"$root/ib/partition=a b"))
    Files.move(Paths.get(part), Paths.get(s"$root/ib/partition=a b/x.parquet"))
    IcebergBridge.writeTable(spark, s"$root/ib", "spacey")
    val got = IcebergBridge.read(spark, s"$root/ib")
      .select(col("value"), col("partition")).collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(got === Set((1.0, "a b")))
  }

  test("a partition directory named metadata_id=... is data, not metadata") {
    // the metadata/ exclusion must match the DIRECTORY, not the name
    // prefix — a 'metadata_id=3/' partition dir silently dropping out
    // of the manifest would mean missing rows in every Iceberg reader
    val root = tmpDir("ibmetaid")
    Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value")
      .coalesce(1).write.parquet(s"$root/s0")
    val listing = Files.list(Paths.get(s"$root/s0"))
    val part = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.toString)
        .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    } finally listing.close()
    Files.createDirectories(Paths.get(s"$root/ib/metadata_id=3"))
    Files.move(Paths.get(part), Paths.get(s"$root/ib/metadata_id=3/x.parquet"))
    assert(IcebergBridge.writeTable(spark, s"$root/ib", "metaid") === 1)
    val got = IcebergBridge.read(spark, s"$root/ib")
      .select(col("value"), col("metadata_id")).collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(got === Set((1.0, "3")))
  }

  test("refuses a data column that shadows a hive partition directory name") {
    val root = tmpDir("ibclash")
    Seq((ts("2024-01-01T01:00:00"), 1.0, "inline")).toDF("time", "value", "p")
      .coalesce(1).write.parquet(s"$root/s0")
    val listing = Files.list(Paths.get(s"$root/s0"))
    val part = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.toString)
        .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    } finally listing.close()
    Files.createDirectories(Paths.get(s"$root/ib/p=1"))
    Files.move(Paths.get(part), Paths.get(s"$root/ib/p=1/x.parquet"))
    val e = intercept[IllegalArgumentException](
      IcebergBridge.writeTable(spark, s"$root/ib", "clash"))
    assert(e.getMessage.contains("duplicate field ids"))
  }

  test("carried EXISTING entries keep the snapshot id that ADDED the file") {
    // manifest_entry.snapshot_id is the ADDING snapshot per spec; a
    // sync writing its own id onto carried files would make external
    // incremental/changelog consumers misattribute them
    val root = tmpDir("ibcarry")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib") // snapshot 1
    val metaV1 = Files.readString(Paths.get(s"$root/ib/metadata/v1.metadata.json"))
    val snap1 = """"current-snapshot-id":(\d+)""".r.findFirstMatchIn(metaV1).get.group(1).toLong
    st.save("f", Seq((ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value"))
    st.syncSnapshotIceberg("f", s"$root/ib") // snapshot 2 carries file 1
    val metaV2 = Files.readString(Paths.get(s"$root/ib/metadata/v2.metadata.json"))
    val snap2 = """"current-snapshot-id":(\d+)""".r.findFirstMatchIn(metaV2).get.group(1).toLong
    assert(snap1 !== snap2)
    import scala.jdk.CollectionConverters._
    val manifests = {
      val l = Files.list(Paths.get(s"$root/ib/metadata"))
      try l.iterator().asScala.filter(_.getFileName.toString.endsWith("-m0.avro")).toSeq
      finally l.close()
    }
    val entries = manifests.flatMap { m =>
      val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
        new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(m)),
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try rd.iterator().asScala.toVector finally rd.close()
    }
    val existing = entries.filter(_.get("status").asInstanceOf[Int] == 0)
    assert(existing.nonEmpty)
    existing.foreach { e =>
      assert(e.get("snapshot_id").asInstanceOf[Long] === snap1) }
    // the ADDED entry of snapshot 2 names snapshot 2
    val added2 = entries.filter(e => e.get("status").asInstanceOf[Int] == 1 &&
      e.get("sequence_number").asInstanceOf[Long] == 2L)
    assert(added2.nonEmpty)
    added2.foreach { e =>
      assert(e.get("snapshot_id").asInstanceOf[Long] === snap2) }
  }

  /** Drop one parquet file (the frame's single part) under `dir`. */
  private def placeFile(dir: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val stage = tmpDir("ibstage") + "/s"
    df.coalesce(1).write.parquet(stage)
    val listing = Files.list(Paths.get(stage))
    val part = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.toString)
        .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    } finally listing.close()
    Files.createDirectories(Paths.get(dir))
    Files.move(Paths.get(part), Paths.get(s"$dir/x.parquet"))
  }

  test("day transform: manifests carry epoch-day ints, read scans the source, readWhere prunes") {
    val root = tmpDir("ibday")
    // full rows (time IS in the data files) laid out one file per day
    placeFile(s"$root/ib/ts_day=2024-01-01",
      Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value"))
    placeFile(s"$root/ib/ts_day=2024-01-02",
      Seq((ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value"))
    IcebergBridge.writeTable(spark, s"$root/ib", "dayfix",
      spec = Seq(IcebergBridge.SpecCol("ts_day", "day", "time")))
    // metadata declares the transform and the derived field is NOT a
    // table column
    val meta = Files.readString(Paths.get(s"$root/ib/metadata/v1.metadata.json"))
    assert(meta.contains("\"transform\":\"day\""))
    assert(!meta.contains("\"name\":\"ts_day\",\"required\""))
    // the manifest partition struct stores the epoch-day INT
    import scala.jdk.CollectionConverters._
    val mPath = {
      val l = Files.list(Paths.get(s"$root/ib/metadata"))
      try l.iterator().asScala.find(_.getFileName.toString.endsWith("-m0.avro")).get
      finally l.close()
    }
    val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(mPath)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val parts = try rd.iterator().asScala.toVector.map(_
      .get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("ts_day").asInstanceOf[Int]) finally rd.close()
    assert(parts.toSet === Set(
      java.time.LocalDate.parse("2024-01-01").toEpochDay.toInt,
      java.time.LocalDate.parse("2024-01-02").toEpochDay.toInt))
    // full read: both rows, time scanned from the files
    val full = IcebergBridge.read(spark, s"$root/ib")
    assert(full.columns.toSeq === Seq("time", "value"))
    assert(full.collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet ===
      Set(("2024-01-01 01:00:00.0", 1.0), ("2024-01-02 02:00:00.0", 2.0)))
    // readWhere sees the HUMAN form and prunes before the scan
    val pruned = IcebergBridge.readWhere(spark, s"$root/ib",
      pv => pv("ts_day") == "2024-01-02")
    assert(pruned.inputFiles.length === 1)
    assert(pruned.select("value").as[Double].collect().toSeq === Seq(2.0))
  }

  test("year/month/hour transforms round-trip their human directory forms") {
    for ((transform, human, expectInt) <- Seq(
      ("year", "2024", 54),
      ("month", "2024-03", 54 * 12 + 2),
      ("hour", "2024-01-02-14", (java.time.LocalDate.parse("2024-01-02").toEpochDay * 24 + 14).toInt))) {
      val root = tmpDir(s"ib$transform")
      placeFile(s"$root/ib/k=$human",
        Seq((ts("2024-01-02T14:00:00"), 7.0)).toDF("time", "value"))
      IcebergBridge.writeTable(spark, s"$root/ib", s"fix$transform",
        spec = Seq(IcebergBridge.SpecCol("k", transform, "time")))
      import scala.jdk.CollectionConverters._
      val mPath = {
        val l = Files.list(Paths.get(s"$root/ib/metadata"))
        try l.iterator().asScala.find(_.getFileName.toString.endsWith("-m0.avro")).get
        finally l.close()
      }
      val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
        new org.apache.avro.file.SeekableByteArrayInput(Files.readAllBytes(mPath)),
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      val v = try rd.iterator().asScala.next()
        .get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("k").asInstanceOf[Int] finally rd.close()
      assert(v === expectInt, s"$transform($human)")
      // pruning sees the human form back
      val hit = IcebergBridge.readWhere(spark, s"$root/ib", pv => pv("k") == human)
      assert(hit.count() === 1L, s"$transform($human) human round-trip")
      val miss = IcebergBridge.readWhere(spark, s"$root/ib", pv => pv("k") == "other")
      assert(miss.count() === 0L)
    }
  }

  test("bucket and truncate transforms read and prune; sync refuses transform tables") {
    val root = tmpDir("ibbt")
    placeFile(s"$root/ib/id_bucket=3/name_tr=al",
      Seq((1L, "alpha", 1.0)).toDF("id", "name", "value"))
    placeFile(s"$root/ib/id_bucket=7/name_tr=be",
      Seq((2L, "beta", 2.0)).toDF("id", "name", "value"))
    IcebergBridge.writeTable(spark, s"$root/ib", "btfix",
      spec = Seq(
        IcebergBridge.SpecCol("id_bucket", "bucket[16]", "id"),
        IcebergBridge.SpecCol("name_tr", "truncate[2]", "name")))
    val full = IcebergBridge.read(spark, s"$root/ib")
    assert(full.columns.toSeq === Seq("id", "name", "value"))
    assert(full.count() === 2L)
    val pruned = IcebergBridge.readWhere(spark, s"$root/ib",
      pv => pv("id_bucket") == "7" && pv("name_tr") == "be")
    assert(pruned.inputFiles.length === 1)
    assert(pruned.select("name").as[String].collect().toSeq === Seq("beta"))
    // the sync writer stays identity-only (read floor is wider than
    // the write floor, per the refuse-don't-misread doctrine)
    val e = intercept[IllegalArgumentException](
      IcebergBridge.appendSnapshot(spark, s"$root/ib", Nil, Nil))
    assert(e.getMessage.contains("non-identity"))
  }

  test("plural transform spellings (days) parse; readRange skips via bounds on transform tables") {
    val root = tmpDir("ibdays")
    placeFile(s"$root/ib/ts_day=2024-01-01",
      Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value"))
    IcebergBridge.writeTable(spark, s"$root/ib", "daysfix",
      spec = Seq(IcebergBridge.SpecCol("ts_day", "day", "time")))
    val metaPath = Paths.get(s"$root/ib/metadata/v1.metadata.json")
    rewrite(metaPath, Files.readString(metaPath)
      .replace("\"transform\":\"day\"", "\"transform\":\"days\""))
    assert(IcebergBridge.read(spark, s"$root/ib").count() === 1L)
    val skip = IcebergBridge.readRange(spark, s"$root/ib", "value", 5.0, 9.0)
    assert(skip.inputFiles.length === 0)
  }

  test("sync across add-column evolution: new schema-id, pinned snapshot keeps its epoch") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val root = tmpDir("ibevolve")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib") // snapshot 1, schema 0
    val snap1 = IcebergBridge.currentSnapshotId(spark, s"$root/ib")
    st.evolveSchema("f", st.tableSchema("f").get.add("quality", DoubleType))
    st.save("f", Seq((ts("2024-01-02T02:00:00"), 2.0, 0.25))
      .toDF("time", "value", "quality"))
    st.syncSnapshotIceberg("f", s"$root/ib") // snapshot 2, schema 1

    // current snapshot: evolved schema, old file's quality null-fills
    val latest = IcebergBridge.read(spark, s"$root/ib")
      .select(col("time"), col("value"), col("quality"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(latest === Set(
      ("2024-01-01 01:00:00.0", 1.0, null),
      ("2024-01-02 02:00:00.0", 2.0, 0.25)))
    // pinned pre-evolution snapshot reads under ITS schema epoch
    val old = IcebergBridge.readSnapshot(spark, s"$root/ib", snap1)
    assert(!old.columns.contains("quality"))
    assert(old.select("value").as[Double].collect().toSeq === Seq(1.0))
    // metadata carries both schemas, current advanced, name mapping updated
    val metaV2 = Files.readString(Paths.get(s"$root/ib/metadata/v2.metadata.json"))
    assert("\"schema-id\":0".r.findAllIn(metaV2).nonEmpty)
    assert(metaV2.contains("\"current-schema-id\":1"))
    assert(metaV2.contains("schema.name-mapping.default"))
    assert(metaV2.contains("quality"))

    // a TYPE change refuses (the verbatim parquet can't satisfy it):
    // int -> double is a store-legal widening but not syncable
    val root2 = tmpDir("ibevolvebad")
    val st2 = new TimeseriesStore(spark, s"$root2/wh")
    st2.save("g", Seq((ts("2024-01-01T01:00:00"), 1))
      .toDF("time", "value").withColumn("value", col("value").cast("int")))
    st2.exportSnapshotIceberg("g", s"$root2/ib")
    st2.evolveValueType("g", DoubleType)
    st2.save("g", Seq((ts("2024-01-02T02:00:00"), 5.0)).toDF("time", "value"))
    val e = intercept[IllegalArgumentException](
      st2.syncSnapshotIceberg("g", s"$root2/ib"))
    assert(e.getMessage.contains("beyond column adds"))
  }

  test("position deletes: merge-on-read snapshot drops rows; travel, pruning, stacking, equality refuse") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("ibposdel")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-01T02:00:00"), 2.0),
      (ts("2024-01-02T03:00:00"), 3.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib")
    val snap1 = IcebergBridge.currentSnapshotId(spark, s"$root/ib")
    def relUnder(day: String): String = {
      val l = Files.list(Paths.get(s"$root/ib/partition=$day"))
      try s"partition=$day/" + l.iterator().asScala
        .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
      finally l.close()
    }
    val relD1 = relUnder("2024-01-01")
    // pos 0 of the two-row day file — resolve which VALUE that is from
    // the file itself, not an assumption about the store's row order
    val fileVals = spark.read.parquet(s"$root/ib/$relD1")
      .select("value").collect().map(_.getDouble(0)).toSeq
    val dead = fileVals.head
    val survivor = fileVals(1)
    IcebergBridge.appendPositionDeletes(spark, s"$root/ib", Seq(relD1 -> 0L))

    // current snapshot: the deleted position is gone, zero data bytes moved
    assert(readBack(s"$root/ib").map(_._2).toSet === Set(survivor, 3.0))
    // pre-delete snapshot still reads every row (time travel)
    val old = IcebergBridge.readSnapshot(spark, s"$root/ib", snap1)
    assert(old.select("value").as[Double].collect().toSet === Set(1.0, 2.0, 3.0))
    // manifest-driven pruning composes with delete application
    val pruned = IcebergBridge.readWhere(spark, s"$root/ib",
      pv => pv("partition") == "2024-01-01")
    assert(pruned.inputFiles.count(_.contains("partition=")) === 1)
    assert(pruned.select("value").as[Double].collect().toSeq === Seq(survivor))
    // a second delete snapshot STACKS on the first
    val relD2 = relUnder("2024-01-02")
    IcebergBridge.appendPositionDeletes(spark, s"$root/ib", Seq(relD2 -> 0L))
    assert(readBack(s"$root/ib").map(_._2).toSet === Set(survivor))
    // the sync writer refuses tables carrying delete files
    val e0 = intercept[IllegalArgumentException](
      IcebergBridge.appendSnapshot(spark, s"$root/ib", Nil, Nil))
    assert(e0.getMessage.contains("delete files"))

    // EQUALITY deletes refuse: flip the delete manifest's content
    val delManifest = {
      val l = Files.list(Paths.get(s"$root/ib/metadata"))
      try l.iterator().asScala.filter(_.getFileName.toString.endsWith("-m0.avro"))
        .map(_.toFile).filter { f =>
          val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
            f, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
          try rd.getMetaString("content") == "deletes" finally rd.close()
        }.toSeq.head
      finally l.close()
    }
    val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      delManifest, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val (sch, entries) = try {
      (rd.getSchema, rd.iterator().asScala.toVector)
    } finally rd.close()
    entries.foreach(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord].put("content", 2))
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](sch))
    w.setMeta("content", "deletes")
    w.setMeta("format-version", "2")
    w.create(sch, delManifest)
    entries.foreach(w.append)
    w.close()
    Files.deleteIfExists(delManifest.toPath.getParent.resolve("." + delManifest.getName + ".crc"))
    val e = intercept[IllegalArgumentException](readBack(s"$root/ib"))
    assert(e.getMessage.contains("EQUALITY"))
  }

  test("equality deletes: CDC-shaped row kills by key, null-safe match, stacks with position deletes") {
    val root = tmpDir("ibeqdel")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-01T02:00:00"), 2.0),
      (ts("2024-01-02T03:00:00"), 3.0),
      (ts("2024-01-02T04:00:00"), 4.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib")
    val snap1 = IcebergBridge.currentSnapshotId(spark, s"$root/ib")
    // kill value in {2.0, 4.0} by equality on the value column
    IcebergBridge.appendEqualityDeletes(spark, s"$root/ib",
      Seq(2.0, 4.0).toDF("value"), Seq("value"))
    assert(readBack(s"$root/ib").map(_._2) === Set(1.0, 3.0))
    // pre-delete snapshot unaffected
    val old = IcebergBridge.readSnapshot(spark, s"$root/ib", snap1)
    assert(old.count() === 4L)
    // stacking: a POSITION delete on top of the equality delete
    import scala.jdk.CollectionConverters._
    val relD1 = {
      val l = Files.list(Paths.get(s"$root/ib/partition=2024-01-01"))
      try "partition=2024-01-01/" + l.iterator().asScala
        .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
      finally l.close()
    }
    val fileVals = spark.read.parquet(s"$root/ib/$relD1")
      .select("value").collect().map(_.getDouble(0)).toSeq
    IcebergBridge.appendPositionDeletes(spark, s"$root/ib",
      Seq(relD1 -> fileVals.indexOf(1.0).toLong))
    assert(readBack(s"$root/ib").map(_._2) === Set(3.0))
    // identity partition columns are not equality-deletable (they are
    // metadata-filled, never scanned)
    val e = intercept[IllegalArgumentException](
      IcebergBridge.appendEqualityDeletes(spark, s"$root/ib",
        Seq("2024-01-01").toDF("partition"), Seq("partition")))
    assert(e.getMessage.contains("identity partition"))
  }

  test("compactDeletes rewrites only affected files, drops delete manifests, re-enables sync") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("ibcompact")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-01T02:00:00"), 2.0),
      (ts("2024-01-02T03:00:00"), 3.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib")
    val snapData = IcebergBridge.currentSnapshotId(spark, s"$root/ib")
    // compaction with no deletes is a no-op returning the current id
    assert(IcebergBridge.compactDeletes(spark, s"$root/ib") === snapData)

    def relUnder(day: String): String = {
      val l = Files.list(Paths.get(s"$root/ib/partition=$day"))
      try s"partition=$day/" + l.iterator().asScala
        .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
      finally l.close()
    }
    val relD1 = relUnder("2024-01-01")
    val fileVals = spark.read.parquet(s"$root/ib/$relD1")
      .select("value").collect().map(_.getDouble(0)).toSeq
    val dead = fileVals.head
    val survivor = fileVals(1)
    IcebergBridge.appendPositionDeletes(spark, s"$root/ib", Seq(relD1 -> 0L))
    val snapDeleted = IcebergBridge.currentSnapshotId(spark, s"$root/ib")

    IcebergBridge.compactDeletes(spark, s"$root/ib")
    // current snapshot: deletes applied INTO the data
    assert(readBack(s"$root/ib").map(_._2) === Set(survivor, 3.0))
    // only the targeted file was rewritten; the untouched day kept its
    // original bytes (compaction moves affected files, never the table)
    val scanned = IcebergBridge.read(spark, s"$root/ib").inputFiles.toSeq
    assert(scanned.exists(_.contains("compact-")), scanned.mkString(","))
    assert(scanned.exists(_.contains(relUnder("2024-01-02"))), scanned.mkString(","))
    assert(scanned.forall(!_.contains(relD1)), scanned.mkString(","))
    // time travel: the delete snapshot still merges on read; the
    // pre-delete snapshot still sees every row
    assert(IcebergBridge.readSnapshot(spark, s"$root/ib", snapDeleted)
      .select("value").as[Double].collect().toSet === Set(survivor, 3.0))
    assert(IcebergBridge.readSnapshot(spark, s"$root/ib", snapData)
      .select("value").as[Double].collect().toSet === Set(dead, survivor, 3.0))

    // equality deletes: sync refuses while they are live, compaction
    // applies them and re-enables the sync writer
    IcebergBridge.appendEqualityDeletes(spark, s"$root/ib",
      Seq(3.0).toDF("value"), Seq("value"))
    val e = intercept[IllegalArgumentException](
      IcebergBridge.appendSnapshot(spark, s"$root/ib", Nil, Nil))
    assert(e.getMessage.contains("compactDeletes"))
    IcebergBridge.compactDeletes(spark, s"$root/ib")
    IcebergBridge.appendSnapshot(spark, s"$root/ib", Nil, Nil) // no longer refuses
    assert(readBack(s"$root/ib").map(_._2) === Set(survivor))
  }

  test("delete snapshots commit under an unpartitioned spec and carry parquet field ids") {
    val root = tmpDir("ibdelspec")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-01T02:00:00"), 2.0),
      (ts("2024-01-02T03:00:00"), 3.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib")
    import scala.jdk.CollectionConverters._
    val relD1 = {
      val l = Files.list(Paths.get(s"$root/ib/partition=2024-01-01"))
      try "partition=2024-01-01/" + l.iterator().asScala
        .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
      finally l.close()
    }
    IcebergBridge.appendPositionDeletes(spark, s"$root/ib", Seq(relD1 -> 0L))
    IcebergBridge.appendEqualityDeletes(spark, s"$root/ib",
      Seq(3.0).toDF("value"), Seq("value"))

    // metadata gained ONE unpartitioned spec; the default is unchanged
    // (global delete scope REQUIRES an unpartitioned spec — under a
    // partitioned one real engines apply the delete only to its own
    // partition tuple, i.e. to nothing for an all-null tuple)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(
      Files.readString(Paths.get(s"$root/ib/metadata/v3.metadata.json")))
    assert(meta.get("default-spec-id").asInt() === 0)
    val specs = meta.get("partition-specs").elements().asScala.toSeq
    val unpart = specs.filter(sp => !sp.get("fields").elements().hasNext)
    assert(unpart.size === 1)
    val unpartId = unpart.head.get("spec-id").asInt()
    assert(unpartId === 1)
    // both delete manifests declare the unpartitioned spec, in the
    // manifest meta AND the manifest-list entries
    val delManifests = Files.list(Paths.get(s"$root/ib/metadata")).iterator().asScala
      .filter(_.getFileName.toString.endsWith("-m0.avro")).map(_.toFile).filter { f =>
        val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
          f, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
        try rd.getMetaString("content") == "deletes" finally rd.close()
      }.toSeq
    assert(delManifests.size === 2)
    delManifests.foreach { f =>
      val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
        f, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try {
        assert(rd.getMetaString("partition-spec-id") === unpartId.toString)
        assert(rd.getMetaString("partition-spec") === "[]")
      } finally rd.close()
    }
    val curSnap = meta.get("current-snapshot-id").asLong()
    val listPath = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == curSnap).get
      .get("manifest-list").asText().split('/').last
    val lrd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      Paths.get(s"$root/ib/metadata/$listPath").toFile,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val listEntries = try lrd.iterator().asScala.toVector finally lrd.close()
    val delListEntries = listEntries.filter(_.get("content").asInstanceOf[Int] == 1)
    assert(delListEntries.size === 2)
    delListEntries.foreach(e =>
      assert(e.get("partition_spec_id").asInstanceOf[Int] === unpartId))

    // delete parquet columns carry field ids: the spec's RESERVED ids
    // for position deletes, the TABLE's ids for equality columns
    def footerSchema(rel: String): org.apache.parquet.schema.MessageType = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/ib/$rel"),
          spark.sessionState.newHadoopConf()))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    def fieldId(mt: org.apache.parquet.schema.MessageType, name: String): Int =
      mt.getFields.asScala.find(_.getName == name).get.getId.intValue
    val posSchema = footerSchema("deletes/del-2.parquet")
    assert(fieldId(posSchema, "file_path") === 2147483546)
    assert(fieldId(posSchema, "pos") === 2147483545)
    val eqSchema = footerSchema("deletes/del-3.parquet")
    val valueFieldId = meta.get("schemas").elements().asScala.next()
      .get("fields").elements().asScala.find(f => f.get("name").asText() == "value")
      .get.get("id").asInt()
    assert(fieldId(eqSchema, "value") === valueFieldId)

    // and the read still applies both deletes globally
    val vals = IcebergBridge.read(spark, s"$root/ib")
      .select("value").as[Double].collect().toSet
    assert(!vals.contains(3.0) && vals.size === 1)
  }

  test("foreign partition-scoped equality deletes apply only within their partition") {
    val root = tmpDir("ibscoped")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-01T02:00:00"), 2.0),
      (ts("2024-01-02T03:00:00"), 3.0),
      (ts("2024-01-02T04:00:00"), 4.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib")
    // a GLOBAL (unpartitioned-spec) delete of value in {2.0, 4.0}
    IcebergBridge.appendEqualityDeletes(spark, s"$root/ib",
      Seq(2.0, 4.0).toDF("value"), Seq("value"))
    assert(IcebergBridge.read(spark, s"$root/ib")
      .select("value").as[Double].collect().toSet === Set(1.0, 3.0))

    // rewrite the delete to the FOREIGN shape: same key file, but
    // under partitioned spec 0 with partition tuple 2024-01-01 — the
    // Flink CDC shape. Per spec it now applies ONLY to data files in
    // that partition: 4.0 (in 2024-01-02) must resurrect.
    import scala.jdk.CollectionConverters._
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    val metaDir = Paths.get(s"$root/ib/metadata")
    def findDelManifest(): java.io.File = {
      val l = Files.list(metaDir)
      try l.iterator().asScala.filter(_.getFileName.toString.endsWith("-m0.avro"))
        .map(_.toFile).filter { f =>
          val rd = new org.apache.avro.file.DataFileReader[GenericRecord](
            f, new GenericDatumReader[GenericRecord]())
          try rd.getMetaString("content") == "deletes" finally rd.close()
        }.toSeq.head
      finally l.close()
    }
    val delManifest = findDelManifest()
    val rd = new org.apache.avro.file.DataFileReader[GenericRecord](
      delManifest, new GenericDatumReader[GenericRecord]())
    val oldEntries = try rd.iterator().asScala.toVector finally rd.close()
    // the SCOPED entry schema: same shape, partition struct carrying
    // the spec-0 field
    val scopedSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type": "record", "name": "manifest_entry", "fields": [
        |  {"name": "status", "type": "int", "field-id": 0},
        |  {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
        |  {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
        |  {"name": "file_sequence_number", "type": ["null", "long"], "default": null, "field-id": 4},
        |  {"name": "data_file", "field-id": 2, "type": {
        |    "type": "record", "name": "r2", "fields": [
        |      {"name": "content", "type": "int", "field-id": 134},
        |      {"name": "file_path", "type": "string", "field-id": 100},
        |      {"name": "file_format", "type": "string", "field-id": 101},
        |      {"name": "partition", "field-id": 102, "type": {
        |        "type": "record", "name": "r102", "fields": [
        |          {"name": "partition", "type": ["null", "string"], "default": null, "field-id": 1000}]}},
        |      {"name": "record_count", "type": "long", "field-id": 103},
        |      {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        |      {"name": "equality_ids", "type": ["null", {"type": "array", "items": "int"}], "default": null, "field-id": 135}
        |  ]}}
        |]}""".stripMargin)
    def rewriteScoped(partValue: Option[String]): Unit = {
      val dfSchema = scopedSchema.getField("data_file").schema()
      val pSchema = dfSchema.getField("partition").schema()
      val recs = oldEntries.map { e =>
        val o = e.get("data_file").asInstanceOf[GenericRecord]
        val p = new GenericData.Record(pSchema)
        partValue.foreach(v => p.put("partition", v))
        val d = new GenericData.Record(dfSchema)
        Seq("content", "file_path", "file_format", "record_count",
          "file_size_in_bytes", "equality_ids").foreach(k => d.put(k, o.get(k)))
        d.put("partition", p)
        val n = new GenericData.Record(scopedSchema)
        Seq("status", "snapshot_id", "sequence_number",
          "file_sequence_number").foreach(k => n.put(k, e.get(k)))
        n.put("data_file", d)
        n: GenericRecord
      }
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](scopedSchema))
      w.setMeta("content", "deletes")
      w.setMeta("format-version", "2")
      w.setMeta("partition-spec-id", "0")
      w.create(scopedSchema, delManifest)
      recs.foreach(w.append)
      w.close()
      Files.deleteIfExists(
        delManifest.toPath.getParent.resolve("." + delManifest.getName + ".crc"))
    }
    def setListSpecId(specId: Int): Unit = {
      val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        Files.readString(metaDir.resolve("v2.metadata.json")))
      val curSnap = meta.get("current-snapshot-id").asLong()
      val listFile = metaDir.resolve(meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == curSnap).get
        .get("manifest-list").asText().split('/').last)
      val lrd = new org.apache.avro.file.DataFileReader[GenericRecord](
        listFile.toFile, new GenericDatumReader[GenericRecord]())
      val (lSchema, lMeta, lRecs) = try {
        (lrd.getSchema,
          lrd.getMetaKeys.asScala.filterNot(_.startsWith("avro."))
            .map(k => k -> lrd.getMetaString(k)).toSeq,
          lrd.iterator().asScala.toVector)
      } finally lrd.close()
      lRecs.foreach { r =>
        if (r.get("content").asInstanceOf[Int] == 1)
          r.put("partition_spec_id", specId)
      }
      val lw = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](lSchema))
      lMeta.foreach { case (k, v) => lw.setMeta(k, v) }
      lw.create(lSchema, listFile.toFile)
      lRecs.foreach(lw.append)
      lw.close()
      Files.deleteIfExists(
        listFile.getParent.resolve("." + listFile.getFileName.toString + ".crc"))
    }
    rewriteScoped(Some("2024-01-01"))
    setListSpecId(0)
    assert(IcebergBridge.read(spark, s"$root/ib")
      .select("value").as[Double].collect().toSet === Set(1.0, 3.0, 4.0))
    // an all-NULL tuple under a partitioned spec scopes to the null
    // partition — here no file has one, so every row survives
    rewriteScoped(None)
    assert(IcebergBridge.read(spark, s"$root/ib")
      .select("value").as[Double].collect().toSet === Set(1.0, 2.0, 3.0, 4.0))
    // an unknown spec id on a delete manifest refuses
    setListSpecId(7)
    val e = intercept[IllegalArgumentException](
      IcebergBridge.read(spark, s"$root/ib").collect())
    assert(e.getMessage.contains("unknown partition-spec id 7"))
  }

  private def canonMeta(root: String): String =
    Files.readString(Paths.get(s"$root/ib/metadata/v1.metadata.json"))
      .replaceAll("\"location\":\"[^\"]+\"", "")
      .replaceAll("\"(manifest-list|manifest_path)\":\"[^\"]+\"", "")
      .replaceAll("\"last-updated-ms\":\\d+", "")
      .replaceAll("\"timestamp-ms\":\\d+", "")

  test("identical exports produce byte-identical metadata json") {
    val r1 = tmpDir("ibdet1"); val r2 = tmpDir("ibdet2")
    export(r1); export(r2)
    assert(canonMeta(r1) === canonMeta(r2))
  }

  test("executor-job describe path emits the same metadata as the driver pool") {
    // above graft.bridge.describeJobThreshold the footer stats run as
    // a Spark job; the published metadata must be indistinguishable
    val r1 = tmpDir("ibjob1"); val r2 = tmpDir("ibjob2")
    spark.conf.set("graft.bridge.describeJobThreshold", "2")
    try export(r1) finally spark.conf.unset("graft.bridge.describeJobThreshold")
    export(r2) // pool path (2 files < default 64)
    assert(canonMeta(r1) === canonMeta(r2))
    assert(readBack(s"$r1/ib") === expected)
    // sync's ADDED entries take the job path too
    val st = new TimeseriesStore(spark, s"$r1/wh")
    st.save("f", Seq((ts("2024-01-05T05:00:00"), 5.0)).toDF("time", "value"))
    spark.conf.set("graft.bridge.describeJobThreshold", "1")
    try st.syncSnapshotIceberg("f", s"$r1/ib")
    finally spark.conf.unset("graft.bridge.describeJobThreshold")
    assert(readBack(s"$r1/ib").exists(_._2 == 5.0))
  }

  test("an identical export writes byte-identical Avro metadata") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("ibavro")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value"))
    val pinned = st.tableVersion("f")
    st.save("f", Seq((ts("2024-01-03T03:00:00"), 3.0)).toDF("time", "value"))
    st.exportSnapshotIceberg("f", s"$root/ib", asOfVersion = Some(pinned))
    def avroFiles(): Map[String, Array[Byte]] = {
      val l = Files.list(Paths.get(s"$root/ib/metadata"))
      try l.iterator().asScala.filter(_.getFileName.toString.endsWith(".avro"))
        .map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
      finally l.close()
    }
    val first = avroFiles()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/ib"))
    st.exportSnapshotIceberg("f", s"$root/ib", asOfVersion = Some(pinned))
    val second = avroFiles()
    assert(first.size === 2 && first.keySet === second.keySet)
    first.foreach { case (name, bytes) => assert(bytes.sameElements(second(name)), name) }
  }

  test("each commit replays the table once: one head read, each manifest opened once") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("ibreplay")
    withConf("fs.countfs.impl" -> classOf[CountingFs].getName) {
      withConf("fs.countfs.impl.disable.cache" -> "true") {
        val st = new TimeseriesStore(spark, CountingFs.url(s"$root/wh"), CountingFs.options())
        val ib = CountingFs.url(s"$root/ib")
        st.save("f", Seq(
          (ts("2024-01-01T01:00:00"), 1.0),
          (ts("2024-01-01T02:00:00"), 2.0),
          (ts("2024-01-02T03:00:00"), 3.0)).toDF("time", "value"))
        st.exportSnapshotIceberg("f", ib)
        st.save("f", Seq((ts("2024-01-03T04:00:00"), 4.0)).toDF("time", "value"))
        val relD1 = {
          val l = Files.list(Paths.get(s"$root/ib/partition=2024-01-01"))
          try "partition=2024-01-01/" + l.iterator().asScala
            .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
          finally l.close()
        }
        def once(op: String)(body: => Any): Unit = {
          val (_, opened) = CountingFs.opensDuring(s"$root/ib/metadata")(body)
          val heads = opened.keys.filter(_.endsWith(".metadata.json"))
          assert(heads.size === 1 && opened.values.forall(_ == 1) &&
            opened.keys.exists(_.endsWith(".avro")), s"$op opened $opened")
        }
        once("syncSnapshotIceberg")(st.syncSnapshotIceberg("f", ib))
        once("appendPositionDeletes")(
          IcebergBridge.appendPositionDeletes(spark, ib, Seq(relD1 -> 0L)))
        once("appendEqualityDeletes")(
          IcebergBridge.appendEqualityDeletes(spark, ib, Seq(3.0).toDF("value"), Seq("value")))
        once("compactDeletes")(IcebergBridge.compactDeletes(spark, ib))
        assert(IcebergBridge.read(spark, ib).select("value").as[Double].collect().toSet ===
          Set(2.0, 4.0))
      }
    }
  }
}
