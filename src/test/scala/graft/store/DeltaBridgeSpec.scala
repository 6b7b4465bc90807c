package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.{CountingFs, SparkSpec}

/** The Delta-protocol bridge: export writes a log any Delta reader
  * opens; read replays adds/removes strictly from the log (no
  * directory inference) and refuses reader versions it can't honor. */
class DeltaBridgeSpec extends SparkSpec {
  import spark.implicits._

  test("executor-job describe path writes a byte-identical Delta log") {
    // above graft.bridge.describeJobThreshold the per-file stats run
    // as a Spark job over executors; the JSON log is deterministic, so
    // the two paths must produce byte-identical commits
    def doExport(root: String): Unit = {
      val st = new TimeseriesStore(spark, s"$root/wh")
      st.save("f", Seq(
        (ts("2024-01-01T01:00:00"), 1.0),
        (ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value"))
      st.exportSnapshotDelta("f", s"$root/delta")
    }
    val r1 = tmpDir("dljob1"); val r2 = tmpDir("dljob2")
    spark.conf.set("graft.bridge.describeJobThreshold", "2")
    try doExport(r1) finally spark.conf.unset("graft.bridge.describeJobThreshold")
    doExport(r2)
    // the store's part files carry Spark's random write UUID in name
    // and (by a byte) size; canonicalize those — the stats, partition
    // values and action shapes are the describe paths' actual output
    def log(root: String): String = Files.readString(
      Paths.get(s"$root/delta/_delta_log/00000000000000000000.json"))
      .replaceAll("\"modificationTime\":\\d+", "")
      .replaceAll("\"timestamp\":\\d+", "")
      .replaceAll("\"createdTime\":\\d+", "")
      .replaceAll("part-\\d+-[0-9a-f-]+", "part")
      .replaceAll("\"size\":\\d+", "")
    assert(log(r1) === log(r2))
  }

  test("exportSnapshotDelta roundtrips through DeltaBridge.read, pinned version honored") {
    val root = tmpDir("deltart")
    val st = new TimeseriesStore(spark, s"$root/wh")
    val a = Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value")
    val b = Seq((ts("2024-01-03T03:00:00"), 3.0)).toDF("time", "value")
    st.save("f", a)
    val pinned = st.tableVersion("f")
    st.save("f", b) // lands AFTER the pin; must not leak into the export
    st.exportSnapshotDelta("f", s"$root/delta", asOfVersion = Some(pinned))

    val got = DeltaBridge.read(spark, s"$root/delta")
      .select(col("time"), col("value"), col("partition"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1), r.getString(2)))
      .toSet
    assert(got === Set(
      ("2024-01-01 01:00:00.0", 1.0, "2024-01-01"),
      ("2024-01-02 02:00:00.0", 2.0, "2024-01-02")))

    // the log itself names exactly the two live files
    val log = Files.readString(
      Paths.get(s"$root/delta/_delta_log/00000000000000000000.json"))
    assert(log.linesIterator.count(_.contains("\"add\"")) === 2)
    assert(log.contains("\"minReaderVersion\":1"))
    assert(log.contains("\"partitionColumns\":[\"partition\"]"))

    // per-file stats ride each add: numRecords sums to the snapshot's
    // rows, and the double value column gets min/max (timestamps are
    // deliberately stat-less — wrong temporal stats cause silent row
    // loss in skipping readers, missing ones only cost pruning)
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val stats = log.linesIterator.filter(_.contains("\"add\"")).map { l =>
      mapper.readTree(l).get("add").get("stats").asText()
    }.map(mapper.readTree).toSeq
    assert(stats.map(_.get("numRecords").asLong()).sum === 2L)
    val allMin = stats.map(_.get("minValues").get("value").asDouble()).min
    val allMax = stats.map(_.get("maxValues").get("value").asDouble()).max
    assert(allMin === 1.0 && allMax === 2.0)
    assert(stats.forall(s => !s.get("minValues").has("time")))
  }

  test("importSnapshot routes a delta-logged tree through the log") {
    val root = tmpDir("deltaimp")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-02-01T01:00:00"), 4.0),
      (ts("2024-02-02T02:00:00"), 5.0)).toDF("time", "value"))
    st.exportSnapshotDelta("f", s"$root/delta")
    // plant an UNREFERENCED parquet next to the live ones: a raw
    // directory read would pick it up, a log-driven read must not
    Seq((ts("2030-01-01T00:00:00"), 99.0)).toDF("time", "value")
      .coalesce(1).write.parquet(s"$root/delta/partition=2030-01-01")
    st.importSnapshot("g", s"$root/delta")
    val got = st.read("g").select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet
    assert(got === Set(
      ("2024-02-01 01:00:00.0", 4.0),
      ("2024-02-02 02:00:00.0", 5.0)))
  }

  test("read replays multi-commit logs with removes, partition values from the log alone") {
    val root = tmpDir("deltamc")
    // three FLAT files (no hive dirs): partition values must come from
    // the log's partitionValues, never from path inference
    def plant(stage: String, name: String): Unit = {
      val listing = Files.list(Paths.get(s"$root/$stage"))
      val part = try listing.toArray.map(_.toString)
        .find(p => p.endsWith(".parquet") && p.contains("part-")).get
      finally listing.close()
      Files.move(Paths.get(part), Paths.get(s"$root/$name"))
    }
    Seq(1).toDF("v").coalesce(1).write.parquet(s"$root/s0")
    Seq(2).toDF("v").coalesce(1).write.parquet(s"$root/s1")
    Seq(3).toDF("v").coalesce(1).write.parquet(s"$root/s2")
    plant("s0", "a.parquet"); plant("s1", "b.parquet"); plant("s2", "c.parquet")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType))).json
      .replace("\"", "\\\"")
    val logDir = Paths.get(s"$root/_delta_log")
    Files.createDirectories(logDir)
    def add(f: String, p: String) =
      s"""{"add":{"path":"$f","partitionValues":{"p":"$p"},"size":1,"modificationTime":1,"dataChange":true}}"""
    // adds deliberately BEFORE the metaData declaration: the protocol
    // does not order actions within a commit, so partition values must
    // come off each add's own partitionValues map, never be re-keyed
    // through a partitionColumns list that may not be parsed yet
    Files.write(logDir.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      add("a.parquet", "east"), add("b.parquet", "west"),
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["p"],"configuration":{}}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(logDir.resolve("00000000000000000001.json"), Seq(
      """{"remove":{"path":"a.parquet","dataChange":true}}""",
      add("c.parquet", "east")
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val got = DeltaBridge.read(spark, root)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((2, "west"), (3, "east"))) // a.parquet removed
  }

  test("syncSnapshotDelta publishes txlog deltas as one Delta commit; no-ops when idle") {
    val root = tmpDir("deltasync")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-03-01T01:00:00"), 1.0),
      (ts("2024-03-02T02:00:00"), 2.0)).toDF("time", "value"))
    st.exportSnapshotDelta("f", s"$root/delta") // Delta commit 0

    // idle table: sync writes NOTHING (no spurious empty commits)
    val v0 = st.syncSnapshotDelta("f", s"$root/delta")
    assert(v0 === st.tableVersion("f"))
    assert(!Files.exists(
      Paths.get(s"$root/delta/_delta_log/00000000000000000001.json")))

    // move the table: append a day, delete a day (file rewrite)
    st.save("f", Seq((ts("2024-03-03T03:00:00"), 3.0)).toDF("time", "value"))
    st.deleteWhere("f", col("time") < ts("2024-03-02T00:00:00"))
    st.syncSnapshotDelta("f", s"$root/delta")

    val commit1 = Files.readString(
      Paths.get(s"$root/delta/_delta_log/00000000000000000001.json"))
    assert(commit1.linesIterator.count(_.contains("\"add\"")) >= 1)
    assert(commit1.linesIterator.count(_.contains("\"remove\"")) >= 1)

    val got = DeltaBridge.read(spark, s"$root/delta")
      .select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet
    assert(got === Set(
      ("2024-03-02 02:00:00.0", 2.0),
      ("2024-03-03 03:00:00.0", 3.0)))

    // removed bytes STAY on disk (older Delta versions stay readable);
    // only the log says they're gone
    val day1 = Paths.get(s"$root/delta/partition=2024-03-01")
    assert(Files.exists(day1))

    // ...and a reader pinned to Delta version 0 still sees the
    // pre-sync snapshot, INCLUDING the row the sync's remove dropped
    val pinned = DeltaBridge.readVersion(spark, s"$root/delta", Some(0L))
      .select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet
    assert(pinned === Set(
      ("2024-03-01 01:00:00.0", 1.0),
      ("2024-03-02 02:00:00.0", 2.0)))

    // schema evolution refuses to sync: plain-parquet trees can't mix epochs
    val cur = st.tableSchema("f").get
    st.evolveSchema("f", org.apache.spark.sql.types.StructType(
      cur.fields :+ org.apache.spark.sql.types.StructField(
        "tag", org.apache.spark.sql.types.StringType)))
    val e = intercept[IllegalArgumentException] {
      st.syncSnapshotDelta("f", s"$root/delta")
    }
    assert(e.getMessage.toLowerCase.contains("schema"))
  }

  test("writeCheckpoint bounds replay: read seeds from the parquet checkpoint") {
    val root = tmpDir("deltackpt")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq((ts("2024-04-01T01:00:00"), 1.0)).toDF("time", "value"))
    st.exportSnapshotDelta("f", s"$root/delta")
    st.save("f", Seq((ts("2024-04-02T02:00:00"), 2.0)).toDF("time", "value"))
    st.syncSnapshotDelta("f", s"$root/delta") // Delta commit 1
    val full = DeltaBridge.read(spark, s"$root/delta")
      .select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet

    val ckptV = DeltaBridge.writeCheckpoint(spark, s"$root/delta")
    assert(ckptV === 1L)
    assert(Files.exists(Paths.get(
      s"$root/delta/_delta_log/00000000000000000001.checkpoint.parquet")))
    assert(Files.exists(Paths.get(s"$root/delta/_delta_log/_last_checkpoint")))

    // prove the checkpoint is the ONLY thing read for versions <= 1:
    // corrupt the json commits it supersedes — a replay that still
    // touched them would now fail
    Files.write(Paths.get(s"$root/delta/_delta_log/00000000000000000000.json"),
      "not json".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$root/delta/_delta_log/00000000000000000001.json"),
      "not json".getBytes(StandardCharsets.UTF_8))
    val viaCkpt = DeltaBridge.read(spark, s"$root/delta")
      .select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet
    assert(viaCkpt === full)

    // and commits AFTER the checkpoint still apply on top of it
    st.save("f", Seq((ts("2024-04-03T03:00:00"), 3.0)).toDF("time", "value"))
    st.syncSnapshotDelta("f", s"$root/delta") // Delta commit 2 > ckpt
    val after = DeltaBridge.read(spark, s"$root/delta")
      .select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSet
    assert(after === full + (("2024-04-03 03:00:00.0", 3.0)))
  }

  test("vacuum deletes only expired tombstones; live files and the window survive") {
    val root = tmpDir("deltavac")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-05-01T01:00:00"), 1.0),
      (ts("2024-05-02T02:00:00"), 2.0)).toDF("time", "value"))
    st.exportSnapshotDelta("f", s"$root/delta")
    st.deleteWhere("f", col("time") < ts("2024-05-02T00:00:00"))
    st.syncSnapshotDelta("f", s"$root/delta") // tombstones day 1

    // inside the retention window: nothing is deleted
    assert(DeltaBridge.vacuum(spark, s"$root/delta") === 0)
    assert(Files.list(Paths.get(s"$root/delta/partition=2024-05-01")).count() > 0)

    // retention 0: the tombstoned file goes, the live one stays, and
    // the current read is untouched
    val n = DeltaBridge.vacuum(spark, s"$root/delta", retentionMs = -1L)
    assert(n === 1)
    val day1 = Files.list(Paths.get(s"$root/delta/partition=2024-05-01"))
    assert(try day1.noneMatch(p => p.toString.endsWith(".parquet")) finally day1.close())
    val got = DeltaBridge.read(spark, s"$root/delta")
      .select(col("value")).collect().map(_.getDouble(0)).toSet
    assert(got === Set(2.0))
  }

  test("readWhere/readRange prune files from log metadata before the scan") {
    val root = tmpDir("deltaprune")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-06-01T01:00:00"), 1.0),
      (ts("2024-06-02T02:00:00"), 5.0),
      (ts("2024-06-03T03:00:00"), 9.0)).toDF("time", "value"))
    st.exportSnapshotDelta("f", s"$root/delta")
    val all = DeltaBridge.read(spark, s"$root/delta")
    assert(all.inputFiles.length === 3)

    // partition pruning: only day 2's file is LISTED, not just filtered
    val oneDay = DeltaBridge.readWhere(spark, s"$root/delta",
      pv => pv.get("partition").contains("2024-06-02"))
    assert(oneDay.inputFiles.length === 1)
    assert(oneDay.select(col("value")).collect().map(_.getDouble(0)).toSet === Set(5.0))

    // stats skipping: value range [4, 6] proves days 1 and 3 can't match
    val mid = DeltaBridge.readRange(spark, s"$root/delta", "value", 4.0, 6.0)
    assert(mid.inputFiles.length === 1)
    assert(mid.select(col("value")).collect().map(_.getDouble(0)).toSet === Set(5.0))

    // a file without stats must always scan: strip the stats off one
    // add line (a real JSON rewrite, not a regex) and confirm the
    // rangeless file comes back
    val log0 = Paths.get(s"$root/delta/_delta_log/00000000000000000000.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rewritten = Files.readString(log0).linesIterator.filter(_.trim.nonEmpty).map { l =>
      val node = om.readTree(l)
      if (node.has("add") && node.get("add").get("path").asText().contains("2024-06-01"))
        node.get("add").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .remove("stats")
      om.writeValueAsString(node)
    }.mkString("", "\n", "\n")
    Files.writeString(log0, rewritten)
    // the rewrite bypassed Hadoop's LocalFS, whose .crc sidecar now
    // disagrees — drop it so the reader sees the new bytes
    Files.deleteIfExists(
      Paths.get(s"$root/delta/_delta_log/.00000000000000000000.json.crc"))
    val mid2 = DeltaBridge.readRange(spark, s"$root/delta", "value", 4.0, 6.0)
    assert(mid2.inputFiles.length === 2) // stats-less day 1 must scan
  }

  test("read refuses a log demanding an unsupported reader version") {
    val root = tmpDir("deltavr")
    val logDir = Paths.get(s"$root/_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}"""
        .getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException] {
      DeltaBridge.read(spark, root)
    }
    assert(e.getMessage.contains("minReaderVersion"))
  }

  // -- third-party-writer shapes: logs this bridge did not produce --

  private def plantFile(root: String, stage: String, name: String): Unit = {
    val listing = Files.list(Paths.get(s"$root/$stage"))
    val part = try listing.toArray.map(_.toString)
      .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    finally listing.close()
    Files.move(Paths.get(part), Paths.get(s"$root/$name"))
  }

  private def flatSchemaJson: String =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.IntegerType))).json
      .replace("\"", "\\\"")

  test("third-party shapes: stats-less adds and remove without dataChange replay fine") {
    val root = tmpDir("delta3p")
    Seq(1).toDF("v").coalesce(1).write.parquet(s"$root/s0")
    Seq(2).toDF("v").coalesce(1).write.parquet(s"$root/s1")
    plantFile(root, "s0", "a.parquet"); plantFile(root, "s1", "b.parquet")
    val logDir = Paths.get(s"$root/_delta_log")
    Files.createDirectories(logDir)
    // adds carry NO stats, NO size, NO modificationTime (all optional
    // for a reader); the remove carries no dataChange — compaction
    // writers emit exactly this and the file must still drop out
    Files.write(logDir.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$flatSchemaJson","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"dataChange":true}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(logDir.resolve("00000000000000000001.json"),
      """{"remove":{"path":"b.parquet"}}"""
        .getBytes(StandardCharsets.UTF_8))
    val got = DeltaBridge.read(spark, root).collect().map(_.getInt(0)).toSet
    assert(got === Set(1))
    // stats-less files always scan under readRange (the safe direction)
    val ranged = DeltaBridge.readRange(spark, root, "v", 100.0, 200.0)
      .collect().map(_.getInt(0)).toSet
    assert(ranged === Set(1))
  }

  test("third-party shapes: multi-part checkpoint seeds the replay") {
    val root = tmpDir("deltamp")
    val st = new TimeseriesStore(spark, s"$root/wh")
    st.save("f", Seq(
      (ts("2024-01-01T01:00:00"), 1.0),
      (ts("2024-01-02T02:00:00"), 2.0),
      (ts("2024-01-03T03:00:00"), 3.0)).toDF("time", "value"))
    st.exportSnapshotDelta("f", s"$root/delta")
    DeltaBridge.writeCheckpoint(spark, s"$root/delta")
    val expectedRows = DeltaBridge.read(spark, s"$root/delta")
      .select("time", "value").collect().map(_.toString).toSet

    // split the single-part checkpoint into 2 parts the way a large
    // third-party writer shards it, and delete the JSON commits so the
    // read can ONLY succeed by seeding from the sharded checkpoint
    val logDir = Paths.get(s"$root/delta/_delta_log")
    val single = logDir.resolve("00000000000000000000.checkpoint.parquet")
    val ck = spark.read.parquet(single.toString).cache()
    val n = ck.count().toInt
    assert(n >= 2, s"need >= 2 checkpoint actions to shard, got $n")
    val rows = ck.collect()
    def writePart(i: Int, slice: Array[org.apache.spark.sql.Row]): Unit = {
      val stage = s"$root/ckpart$i"
      spark.createDataFrame(java.util.Arrays.asList(slice: _*), ck.schema)
        .coalesce(1).write.parquet(stage)
      plantFile(root, s"ckpart$i",
        f"delta/_delta_log/00000000000000000000.checkpoint.$i%010d.${2}%010d.parquet")
    }
    writePart(1, rows.take(1)); writePart(2, rows.drop(1))
    ck.unpersist()
    Files.delete(single)
    Files.deleteIfExists(logDir.resolve(".00000000000000000000.checkpoint.parquet.crc"))
    Files.write(logDir.resolve("_last_checkpoint"),
      s"""{"version":0,"size":$n,"parts":2}""".getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(logDir.resolve("._last_checkpoint.crc"))
    Files.delete(logDir.resolve("00000000000000000000.json"))
    Files.deleteIfExists(logDir.resolve(".00000000000000000000.json.crc"))

    val got = DeltaBridge.read(spark, s"$root/delta")
      .select("time", "value").collect().map(_.toString).toSet
    assert(got === expectedRows)
  }

  test("third-party shapes: URL-encodable characters in file paths keep their rows") {
    // _metadata.file_path is URI-encoded; the partition-value join is
    // keyed by the identically-encoded absolute path, so a data file
    // under a directory with a space keeps its rows and its log-carried
    // partition value
    val root = tmpDir("deltaspace")
    Seq(7).toDF("v").coalesce(1).write.parquet(s"$root/s0")
    Files.createDirectories(Paths.get(s"$root/p dir"))
    val listing = Files.list(Paths.get(s"$root/s0"))
    val part = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.toString)
        .find(p => p.endsWith(".parquet") && p.contains("part-")).get
    } finally listing.close()
    Files.move(Paths.get(part), Paths.get(s"$root/p dir/x.parquet"))
    val logDir = Paths.get(s"$root/_delta_log")
    Files.createDirectories(logDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType))).json.replace("\"", "\\\"")
    // add.path is RFC 2396 percent-encoded per the Delta spec
    Files.write(logDir.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["p"],"configuration":{}}}""",
      """{"add":{"path":"p%20dir/x.parquet","partitionValues":{"p":"spacey east"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val got = DeltaBridge.read(spark, root)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((7, "spacey east")))
  }

  // logical (time, value, part) over physical (col-aaa, col-bbb,
  // col-ccc) — the shape current Databricks writers produce by default
  private def mappedSchemaJson: String = {
    import org.apache.spark.sql.types._
    def m(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    StructType(Seq(
      StructField("time", TimestampType, nullable = true, m(1, "col-aaa")),
      StructField("value", DoubleType, nullable = true, m(2, "col-bbb")),
      StructField("part", StringType, nullable = true, m(3, "col-ccc"))))
      .json.replace("\"", "\\\"")
  }

  test("third-party shapes: name-mode column mapping reads logical names from physical columns") {
    val root = tmpDir("deltacmname")
    // data files carry PHYSICAL column names; the partition column is
    // not in the files (its values ride the log, keyed physical)
    Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("col-aaa", "col-bbb")
      .coalesce(1).write.parquet(s"$root/s0")
    Seq((ts("2024-01-02T02:00:00"), 5.0)).toDF("col-aaa", "col-bbb")
      .coalesce(1).write.parquet(s"$root/s1")
    plantFile(root, "s0", "a.parquet"); plantFile(root, "s1", "b.parquet")
    val logDir = Paths.get(s"$root/_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$mappedSchemaJson","partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{"col-ccc":"p1"},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"col-bbb\":1.0},\"maxValues\":{\"col-bbb\":1.0},\"nullCount\":{\"col-bbb\":0}}"}}""",
      """{"add":{"path":"b.parquet","partitionValues":{"col-ccc":"p2"},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"col-bbb\":5.0},\"maxValues\":{\"col-bbb\":5.0},\"nullCount\":{\"col-bbb\":0}}"}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val out = DeltaBridge.read(spark, root)
    assert(out.columns.toSeq === Seq("time", "value", "part"))
    assert(out.collect().map(r =>
      (r.getTimestamp(0).toString, r.getDouble(1), r.getString(2))).toSet === Set(
      ("2024-01-01 01:00:00.0", 1.0, "p1"),
      ("2024-01-02 02:00:00.0", 5.0, "p2")))
    // readWhere predicates speak LOGICAL names
    val w = DeltaBridge.readWhere(spark, root, pv => pv("part") == "p2")
    assert(w.inputFiles.length === 1)
    assert(w.select("value").as[Double].collect().toSeq === Seq(5.0))
    // readRange translates the logical column to the physical stat key
    val rng = DeltaBridge.readRange(spark, root, "value", 4.0, 6.0)
    assert(rng.inputFiles.length === 1)
    assert(rng.select("value").as[Double].collect().toSeq === Seq(5.0))
    // the sync writer refuses mapped tables (read-only interop)
    val e = intercept[IllegalArgumentException](
      DeltaBridge.appendCommit(spark, root, Nil, Nil))
    assert(e.getMessage.contains("column mapping"))
  }

  test("third-party shapes: id-mode column mapping binds columns by parquet field id") {
    // the parquet columns are named NEITHER the logical nor the
    // physical names — only the embedded field ids can bind them, so
    // this passes iff the scan really matches by id
    import org.apache.spark.sql.types._
    def fid(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val root = tmpDir("deltaidmode")
    val fileSchema = StructType(Seq(
      StructField("whatever_a", TimestampType, nullable = true, fid(1)),
      StructField("whatever_b", DoubleType, nullable = true, fid(2))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(ts("2024-01-01T01:00:00"), 1.5)), 1), fileSchema)
      .coalesce(1).write.parquet(s"$root/s0")
    plantFile(root, "s0", "a.parquet")
    val logDir = Paths.get(s"$root/_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$mappedSchemaJson","partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{"col-ccc":"px"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val out = DeltaBridge.read(spark, root)
    assert(out.columns.toSeq === Seq("time", "value", "part"))
    assert(out.collect().map(r =>
      (r.getTimestamp(0).toString, r.getDouble(1), r.getString(2))).toSet ===
      Set(("2024-01-01 01:00:00.0", 1.5, "px")))
    // the field-id flag rides a CLONED session pinned to the scan
    // relation — the caller's session conf must stay untouched (it
    // silently changes parquet resolution for unrelated reads), and
    // the binding must survive an action AFTER the read returns
    // (set-then-restore would race the lazy conf read)
    assert(spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
      .forall(_ == "false"))
    assert(out.select("value").as[Double].collect().toSeq === Seq(1.5))
  }

  test("third-party shapes: malformed mappings, unknown modes and deletion vectors refuse") {
    def writeLog(root: String, lines: Seq[String]): Unit = {
      val logDir = Paths.get(s"$root/_delta_log")
      Files.createDirectories(logDir)
      Files.write(logDir.resolve("00000000000000000000.json"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    // id mode without mapping metadata: malformed — refuse
    val r1 = tmpDir("deltacmid")
    Seq(1).toDF("v").coalesce(1).write.parquet(s"$r1/s0")
    plantFile(r1, "s0", "a.parquet")
    writeLog(r1, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$flatSchemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"dataChange":true}}"""))
    val e1 = intercept[IllegalArgumentException](DeltaBridge.read(spark, r1))
    assert(e1.getMessage.contains("malformed mapping"))
    // an unknown future mapping mode refuses at protocol validation
    val r1b = tmpDir("deltacmfut")
    Seq(1).toDF("v").coalesce(1).write.parquet(s"$r1b/s0")
    plantFile(r1b, "s0", "a.parquet")
    writeLog(r1b, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$flatSchemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"hash"}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"dataChange":true}}"""))
    val e1b = intercept[IllegalArgumentException](DeltaBridge.read(spark, r1b))
    assert(e1b.getMessage.contains("columnMapping.mode=hash"))
    // name mode without physicalName metadata: malformed — refuse
    val r2 = tmpDir("deltacmmal")
    Seq(1).toDF("v").coalesce(1).write.parquet(s"$r2/s0")
    plantFile(r2, "s0", "a.parquet")
    writeLog(r2, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$flatSchemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"dataChange":true}}"""))
    val e2 = intercept[IllegalArgumentException](DeltaBridge.read(spark, r2))
    assert(e2.getMessage.contains("physicalName"))
    // an UNKNOWN v3 reader feature still refuses (deletionVectors is
    // supported since r19 — see the dedicated DV tests)
    val r3 = tmpDir("deltav2ckpt")
    Seq(1).toDF("v").coalesce(1).write.parquet(s"$r3/s0")
    plantFile(r3, "s0", "a.parquet")
    writeLog(r3, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$flatSchemaJson","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"dataChange":true}}"""))
    val e3 = intercept[IllegalArgumentException](DeltaBridge.read(spark, r3))
    assert(e3.getMessage.contains("v2Checkpoint"))
    // v3 with ONLY supported features still reads
    val r4 = tmpDir("deltav3ok")
    Seq(1).toDF("v").coalesce(1).write.parquet(s"$r4/s0")
    plantFile(r4, "s0", "a.parquet")
    writeLog(r4, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$flatSchemaJson","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"a.parquet","partitionValues":{},"dataChange":true}}"""))
    assert(DeltaBridge.read(spark, r4).select("v").as[Int].collect().toSeq === Seq(1))
  }

  test("deletion vector codec: z85, uuid and portable roaring round-trip") {
    import DeletionVectors._
    // z85: non-multiple-of-4 input pads to groups and trims back
    val raw = Array.tabulate[Byte](11)(i => (i * 37 + 5).toByte)
    val enc = z85Encode(raw)
    assert(enc.length === 15)
    assert(z85Decode(enc).take(11).toSeq === raw.toSeq)
    assert(encodeUuid(new java.util.UUID(1L, 2L)).length === 20)
    // roaring: a dense chunk (bitmap container), a sparse chunk
    // (array container) and a high key >= 2^32 in ONE vector
    val positions: Seq[Long] =
      (0L until 5000L) ++ Seq(70000L, 70002L) ++
        Seq((1L << 32) + 3L, (1L << 32) + 70000L)
    val data = serialize(positions)
    assert(deserialize(data).toSeq === positions.sorted)
    val fileBytes = sidecarFileBytes(data)
    assert(fileBytes(0) === 1.toByte)
    assert(fileBytes.length === 1 + 4 + data.length + 4)
  }

  test("third-party shapes: deletion vectors (inline and on-disk) drop dead rows") {
    val root = tmpDir("deltadvread")
    // two partition files with KNOWN physical row order (one local
    // partition preserves the seq order: row_index == v mod 10)
    (0 until 10).map(v => (v, s"p1")).toDF("v", "pdrop").drop("pdrop")
      .coalesce(1).write.parquet(s"$root/s0")
    (10 until 20).map(v => (v, s"p2")).toDF("v", "pdrop").drop("pdrop")
      .coalesce(1).write.parquet(s"$root/s1")
    plantFile(root, "s0", "a.parquet"); plantFile(root, "s1", "b.parquet")
    import DeletionVectors._
    // file A: INLINE vector killing positions 0,3,6,9
    val dataA = serialize(Seq(0L, 3L, 6L, 9L))
    val inlineA = z85Encode(dataA)
    // file B: ON-DISK "u" vector with a random prefix, killing 0..4
    val dataB = serialize(Seq(0L, 1L, 2L, 3L, 4L))
    val uuidB = new java.util.UUID(0x1122334455667788L, 0x99AABBCCDDEEFF00L)
    Files.createDirectories(Paths.get(s"$root/ab"))
    Files.write(Paths.get(s"$root/ab/deletion_vector_$uuidB.bin"),
      sidecarFileBytes(dataB))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.StringType))).json.replace("\"", "\\\"")
    val logDir = Paths.get(s"$root/_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["part"],"configuration":{}}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{"part":"p1"},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inlineA","sizeInBytes":${dataA.length},"cardinality":4}}}""",
      s"""{"add":{"path":"b.parquet","partitionValues":{"part":"p2"},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"ab${encodeUuid(uuidB)}","offset":1,"sizeInBytes":${dataB.length},"cardinality":5}}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val out = DeltaBridge.read(spark, root)
    assert(out.select("v").as[Int].collect().toSet ===
      Set(1, 2, 4, 5, 7, 8) ++ (15 until 20).toSet)
    // partition values and pruning compose with DV application
    val w = DeltaBridge.readWhere(spark, root, pv => pv("part") == "p2")
    assert(w.select("v").as[Int].collect().toSet === (15 until 20).toSet)
    // this checkpoint layout cannot carry DVs — refuse, never publish
    // a checkpoint that resurrects deleted rows
    val e = intercept[IllegalArgumentException](
      DeltaBridge.writeCheckpoint(spark, root))
    assert(e.getMessage.contains("deletion vectors"))
  }

  test("third-party shapes: corrupt or unknown deletion vectors refuse, never resurrect") {
    import DeletionVectors._
    def deepMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    def dvTable(name: String, dvJson: String): String = {
      val root = tmpDir(name)
      Seq(1, 2, 3).toDF("v").coalesce(1).write.parquet(s"$root/s0")
      plantFile(root, "s0", "a.parquet")
      val logDir = Paths.get(s"$root/_delta_log")
      Files.createDirectories(logDir)
      Files.write(logDir.resolve("00000000000000000000.json"), Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$flatSchemaJson","partitionColumns":[],"configuration":{}}}""",
        s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson}}"""
      ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      root
    }
    // declared cardinality contradicts the decoded vector
    val data = serialize(Seq(0L))
    val badCard = dvTable("deltadvcard",
      s"""{"storageType":"i","pathOrInlineDv":"${z85Encode(data)}","sizeInBytes":${data.length},"cardinality":2}""")
    val e1 = intercept[Exception](DeltaBridge.read(spark, badCard).collect())
    assert(deepMsg(e1).contains("cardinality"))
    // an unknown storage type must refuse, not skip the vector
    val badStore = dvTable("deltadvstore",
      s"""{"storageType":"x","pathOrInlineDv":"zz","sizeInBytes":4,"cardinality":1}""")
    val e2 = intercept[Exception](DeltaBridge.read(spark, badStore).collect())
    assert(deepMsg(e2).contains("storageType"))
  }

  test("a checkpoint whose rename fails throws before _last_checkpoint can name it") {
    val root = tmpDir("dlckrename")
    // the bridge's Spark writes and scans resolve countfs through the
    // session; the store's own handles fail the checkpoint's rename
    withConf("fs.countfs.impl" -> classOf[CountingFs].getName) {
      withConf("fs.countfs.impl.disable.cache" -> "true") {
        val st = new TimeseriesStore(spark, CountingFs.url(s"$root/wh"),
          CountingFs.options(failRenamesTo = Some(".checkpoint.parquet")))
        val delta = CountingFs.url(s"$root/delta")
        st.save("f", Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value"))
        st.exportSnapshotDelta("f", delta)
        DeltaBridge.writeCheckpoint(spark, delta) // session handles: renames work
        val lastCkpt = Paths.get(s"$root/delta/_delta_log/_last_checkpoint")
        val before = Files.readAllBytes(lastCkpt)

        st.save("f", Seq((ts("2024-01-02T02:00:00"), 2.0)).toDF("time", "value"))
        val e = intercept[java.io.IOException](
          st.syncSnapshotDelta("f", delta, checkpointEvery = 1))
        assert(e.getMessage.contains("00000000000000000001.checkpoint.parquet"))
        assert(Files.readAllBytes(lastCkpt).sameElements(before))
        assert(DeltaBridge.read(spark, delta).select("value").as[Double].collect().toSet ===
          Set(1.0, 2.0))
      }
    }
  }
}
