package graft.store

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkSpec

/** The transaction-log store: ranged append/read, atomic compaction
  * (retire + publish in one commit), time travel by version, vacuum,
  * optimistic commit-conflict retry, and log-metadata partition pruning.
  */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def series(rows: (String, String, Double)*) =
    rows.toSeq.toDF("t", "ct", "v").select(
      col("t").cast("timestamp").as("time"),
      col("ct").cast("timestamp").as("created_time"),
      col("v").as("value"))

  private def freshStore(): TimeseriesStore = new TimeseriesStore(spark, tmpDir("graft-tx"))

  test("append + ranged read returns exactly the in-range rows of every append") {
    val tx = freshStore()
    tx.save("f", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-01-02 10:00:00", "2024-01-02 10:00:00", 2.0)))
    tx.save("f", series(("2024-01-03 10:00:00", "2024-01-03 10:00:00", 3.0)))
    val got = tx.read("f", from = Some(ts("2024-01-02")), to = Some(ts("2024-01-03T23:00:00")))
      .orderBy("time").collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      (ts("2024-01-02T10:00:00"), ts("2024-01-02T10:00:00"), 2.0),
      (ts("2024-01-03T10:00:00"), ts("2024-01-03T10:00:00"), 3.0)))
    assert(tx.listPartitions("f") == Seq("2024-01-01", "2024-01-02", "2024-01-03"))
  }

  test("ranged write layout caps an append at ~(tasks + partitions) files") {
    // a deliberately scattered input: 600 rows over 6 dates, pre-split
    // across 8 input partitions so every task sees every date. Without
    // the (partition, time) range exchange the append would write a
    // file per (task x date) — up to 8 x 6; ranged, contiguous slices
    // cap it at shuffle-parallelism + dates
    val dir = tmpDir("graft-layout")
    val store = new TimeseriesStore(spark, dir)
    val scattered = spark.range(600).select(
      timestamp_millis(lit(1704067200000L) + (col("id") % 6) * 86400000L +
        (col("id") / 6).cast("long") * 60000L).as("time"),
      timestamp_millis(lit(1704067200000L) + col("id")).as("created_time"),
      col("id").cast("double").as("value"))
      .repartition(8)
    store.save("f", scattered)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "feature", "f"))
      .filter(p => p.toString.endsWith(".parquet"))
      .count()
    val cap = spark.sessionState.conf.numShufflePartitions + 6
    assert(files > 0 && files <= cap,
      s"$files parquet files for one append — expected <= $cap (tasks + partitions)")
    // and the layout exchange must not change WHAT is stored
    assert(store.read("f").count() == 600)
  }

  test("log-metadata pruning: out-of-range files never reach the scan") {
    val tx = freshStore()
    tx.save("f", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-06-01 10:00:00", "2024-06-01 10:00:00", 6.0)))
    val df = tx.read("f", from = Some(ts("2024-05-01")), to = Some(ts("2024-07-01")))
    // the January file is pruned from the plan's file list entirely
    val files = df.queryExecution.executedPlan.collectLeaves().flatMap {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
      case _ => Nil
    }
    assert(files.nonEmpty && files.forall(_.contains("partition=2024-06-01")))
    assert(df.collect().map(_.getDouble(2)).toSeq == Seq(6.0))
  }

  test("compaction is one atomic commit; time travel + vacuum") {
    val tx = freshStore()
    // two generations of the same timestamp across two appends
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0)))
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 11:00:00", 9.0)))
    val preCompact = tx.tableVersion("f")
    tx.compact("f")
    // post-compaction: one deduped row, last writer wins
    val after = tx.read("f").collect().map(r => (r.getTimestamp(1), r.getDouble(2))).toSeq
    assert(after == Seq((ts("2024-01-01T11:00:00"), 9.0)))
    // the compaction was exactly one commit on top of the appends
    assert(tx.tableVersion("f") == preCompact + 1)
    // time travel: the pre-compaction snapshot still reads BOTH rows
    val old = tx.read("f", asOfVersion = Some(preCompact))
      .orderBy("created_time").collect().map(_.getDouble(2)).toSeq
    assert(old == Seq(1.0, 9.0))
    // with a retention horizon the fresh retired files are SPARED (the
    // concurrent-writer guard); retention 0 reclaims them
    assert(tx.vacuum("f") == 0L)
    assert(tx.vacuum("f", retentionMs = 0L) == 2L)
    assert(tx.read("f").collect().map(_.getDouble(2)).toSeq == Seq(9.0))
  }

  test("deleteWhere rewrites only matching files in one commit; time travel sees pre-delete") {
    val tx = freshStore()
    // two partitions (days) in separate appends -> separate files
    tx.save("f", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-01-01 11:00:00", "2024-01-01 11:00:00", 2.0)))
    tx.save("f", series(
      ("2024-01-02 10:00:00", "2024-01-02 10:00:00", 3.0)))
    val preDelete = tx.tableVersion("f")
    val jan2Files = tx.read("f").withColumn("f", col("_metadata.file_path"))
      .filter(col("value") === 3.0).select("f").distinct().collect().map(_.getString(0)).toSet
    // delete one row out of the two-row day-1 file
    assert(tx.deleteWhere("f", col("value") === 1.0) == 1L)
    assert(tx.tableVersion("f") == preDelete + 1) // ONE commit
    assert(tx.read("f").collect().map(_.getDouble(2)).sorted.toSeq == Seq(2.0, 3.0))
    // the untouched day-2 file kept its identity (no full-table rewrite)
    val jan2After = tx.read("f").withColumn("f", col("_metadata.file_path"))
      .filter(col("value") === 3.0).select("f").distinct().collect().map(_.getString(0)).toSet
    assert(jan2After == jan2Files, "non-matching file was rewritten")
    // time travel still reads the erased row until vacuum
    assert(tx.read("f", asOfVersion = Some(preDelete)).count() == 3L)
    assert(tx.vacuum("f", retentionMs = 0L) >= 1L)
    // no-match predicate is a no-op commit-wise
    val v = tx.tableVersion("f")
    assert(tx.deleteWhere("f", col("value") === 99.0) == 0L)
    assert(tx.tableVersion("f") == v)
    // delete-all publishes removes only and reads back empty
    assert(tx.deleteWhere("f", lit(true)) == 2L)
    assert(tx.read("f").count() == 0L)
  }

  test("updateWhere rewrites matching rows in one commit; readChanges feeds increments") {
    val tx = freshStore()
    tx.save("f", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-01-02 10:00:00", "2024-01-02 10:00:00", 3.0)))
    val v1 = tx.tableVersion("f")
    // UPDATE: one matching row doubled, one commit
    assert(tx.updateWhere("f", col("value") === 1.0, col("value") * 2) == 1L)
    assert(tx.tableVersion("f") == v1 + 1)
    assert(tx.read("f").collect().map(_.getDouble(2)).sorted.toSeq == Seq(2.0, 3.0))
    // no-match update is a no-op
    assert(tx.updateWhere("f", col("value") === 99.0, lit(0.0)) == 0L)
    // CDC: a later append reads back incrementally from v
    val v2 = tx.tableVersion("f")
    tx.save("f", series(("2024-01-03 10:00:00", "2024-01-03 10:00:00", 7.0)))
    val inc = tx.readChanges("f", fromVersion = v2)
      .collect().map(_.getDouble(2)).toSeq
    assert(inc == Seq(7.0))
    // changes across the UPDATE boundary carry the REWRITTEN file and
    // the append — the untouched 3.0 file predates v1 and stays out
    val sinceStart = tx.readChanges("f", fromVersion = v1)
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(sinceStart == Seq(2.0, 7.0))
    // bounded window: (v1, v2] sees only the update's rewrite
    val windowed = tx.readChanges("f", fromVersion = v1, toVersion = Some(v2))
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(windowed == Seq(2.0))
  }

  test("AS OF TIMESTAMP resolves to the version live at the instant") {
    val tx = freshStore()
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0)))
    val v1 = tx.tableVersion("f")
    Thread.sleep(30) // mtime granularity
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    tx.save("f", series(("2024-01-02 10:00:00", "2024-01-02 10:00:00", 2.0)))
    assert(tx.versionAt("f", between) == v1)
    assert(tx.versionAt("f", System.currentTimeMillis()) == tx.tableVersion("f"))
    // the resolved version composes with version-based travel
    assert(tx.read("f", asOfVersion = Some(tx.versionAt("f", between))).count() == 1L)
    // an instant before the first commit refuses instead of snapping forward
    intercept[IllegalArgumentException](tx.versionAt("f", 1000L))
  }

  test("versionAt anchors on a surviving checkpoint and embedded instants, not mtimes") {
    val dir = tmpDir("graft-tx-anchor")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    for (i <- 1 to 11) // versions 0..10: the checkpoint lands at v10
      tx.save("f", series((f"2024-01-$i%02d 10:00:00", f"2024-01-$i%02d 10:00:00", i.toDouble)))
    assert(tx.tableVersion("f") == 10L)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    tx.save("f", series(("2024-02-01 10:00:00", "2024-02-01 10:00:00", 99.0)))
    // log vacuum prunes commits 1..10 (subsumed by the v10 checkpoint)
    tx.vacuum("f", retentionMs = 0L)
    val logDir = new org.apache.hadoop.fs.Path(s"$dir/tx/feature/f/_txlog")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(logDir).map(_.getPath.getName).toSet
    assert(!names.contains(f"${1L}%020d.json"), s"commit 1 should be pruned: $names")
    // the pre-`between` history survives ONLY as the checkpoint file now
    assert(names.contains(f"${10L}%020d.checkpoint.json"), s"checkpoint missing: $names")
    // the checkpoint file is now the only anchor for v10 — an instant
    // between v10 and v11 must resolve to 10, not throw
    assert(tx.versionAt("f", between) == 10L)
    assert(tx.read("f", asOfVersion = Some(10L)).count() == 11L)
    // instants come from the embedded commit-info line, not file mtime:
    // smashing every surviving log file's mtime must change nothing
    fs.listStatus(logDir).filter(_.isFile).foreach(st => fs.setTimes(st.getPath, 1000L, 1000L))
    assert(tx.versionAt("f", between) == 10L)
    assert(tx.versionAt("f", System.currentTimeMillis()) == 11L)
    // an instant before the earliest surviving anchor still refuses
    intercept[IllegalArgumentException](tx.versionAt("f", 1000L))
  }

  test("file-level time stats skip non-overlapping files from log metadata") {
    val dir = tmpDir("graft-tx-skip")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    // ONE day accumulated over 4 micro-batch-style appends: the single
    // partition holds 4 time-sliced files (150 minutes each)
    (0 until 4).foreach { b =>
      tx.save("f", spark.range(150).select(
        timestamp_millis(lit(ts("2024-01-01").getTime) + (col("id") + b * 150L) * 60000L).as("time"),
        timestamp_millis(lit(ts("2024-01-01").getTime)).as("created_time"),
        (col("id") + b * 150L).cast("double").as("value")))
    }
    val total = tx.read("f").inputFiles.length
    assert(total >= 4, s"expected a multi-file day, got $total")
    // a 21-minute range overlaps ONE slice; partition pruning alone
    // keeps all 4 files (same day) — only the footer-stat bounds in
    // the log can drop the other three before Spark opens anything
    val narrow = tx.read("f",
      from = Some(new java.sql.Timestamp(ts("2024-01-01").getTime + 100 * 60000L)),
      to = Some(new java.sql.Timestamp(ts("2024-01-01").getTime + 120 * 60000L)))
    assert(narrow.count() == 21)
    assert(narrow.inputFiles.length <= 2,
      s"stats skipping should open <= 2 of $total files, got ${narrow.inputFiles.length}")
    // an unbounded read still opens everything
    assert(tx.read("f").count() == 600)
  }

  test("CHECK constraints: declared in the log, enforced on save/merge, survive checkpoints") {
    val dir = tmpDir("graft-tx-check")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0)))
    tx.addCheck("f", "positive", "value >= 0")
    assert(tx.tableChecks("f") == Seq(("positive", "value >= 0")))
    // conforming save lands; violating save is rejected BY NAME with
    // nothing becoming visible
    tx.save("f", series(("2024-01-02 10:00:00", "2024-01-02 10:00:00", 2.0)))
    val e = intercept[IllegalArgumentException] {
      tx.save("f", series(("2024-01-03 10:00:00", "2024-01-03 10:00:00", -3.0)))
    }
    assert(e.getMessage.contains("positive") && e.getMessage.contains("1 rows"))
    assert(tx.read("f").count() == 2L)
    // a violating MERGE source is rejected the same way
    intercept[IllegalArgumentException] {
      tx.mergeInto("f", series(("2024-01-02 10:00:00", "2024-01-02 11:00:00", -9.0)))
    }
    // a constraint the existing table violates refuses to land
    intercept[IllegalArgumentException](tx.addCheck("f", "tiny", "value < 1"))
    // re-declaring as true drops enforcement
    tx.addCheck("f", "positive", "true")
    tx.save("f", series(("2024-01-04 10:00:00", "2024-01-04 10:00:00", -4.0)))
    assert(tx.read("f").count() == 3L)
  }

  test("restore rolls back as a new commit; vacuumed restores refuse") {
    val dir = tmpDir("graft-tx-restore")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    tx.save("f", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-01-02 10:00:00", "2024-01-02 10:00:00", 2.0)))
    val vGood = tx.tableVersion("f")
    tx.save("f", series(("2024-01-03 10:00:00", "2024-01-03 10:00:00", 3.0)))
    assert(tx.deleteWhere("f", col("value") === 2.0) == 1L)
    assert(tx.read("f").count() == 2L) // the "bad" state: 1.0 and 3.0
    val vRestored = tx.restore("f", vGood)
    // rollback is a NEW commit on top of history, not a rewrite of it
    assert(vRestored == tx.tableVersion("f") && vRestored > vGood + 1)
    assert(tx.read("f").orderBy("time").collect().map(_.getDouble(2)).toSeq ==
      Seq(1.0, 2.0))
    // the pre-restore "bad" state itself stays time-travelable
    assert(tx.read("f", asOfVersion = Some(vRestored - 1)).count() == 2L)
    // restoring the CURRENT state is a no-op (no empty commit)
    assert(tx.restore("f", vRestored) == vRestored)
    // after vacuum reclaims the deleted-era files, restoring to the
    // bad state must refuse loudly instead of committing dangling adds
    tx.vacuum("f", retentionMs = 0L)
    val e = intercept[IllegalStateException](tx.restore("f", vRestored - 1))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("mergeInto: physical upsert in one commit; only matched files rewrite") {
    val dir = tmpDir("graft-tx-merge")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    // three day-partitions, two generations on day 2
    tx.save("f", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-01-02 10:00:00", "2024-01-02 10:00:00", 2.0),
      ("2024-01-02 10:00:00", "2024-01-02 11:00:00", 2.5),
      ("2024-01-03 10:00:00", "2024-01-03 10:00:00", 3.0)))
    val vPre = tx.tableVersion("f")
    // source: replaces day 2 (both generations collapse), inserts day 4
    val (updated, inserted) = tx.mergeInto("f", series(
      ("2024-01-02 10:00:00", "2024-01-02 12:00:00", 20.0),
      ("2024-01-04 10:00:00", "2024-01-04 10:00:00", 4.0)))
    assert((updated, inserted) == (1L, 1L))
    val out = tx.read("f").orderBy("time", "created_time").collect()
      .map(r => (r.getTimestamp(0).toString, r.getDouble(2))).toSeq
    assert(out == Seq(
      ("2024-01-01 10:00:00.0", 1.0),
      ("2024-01-02 10:00:00.0", 20.0),
      ("2024-01-03 10:00:00.0", 3.0),
      ("2024-01-04 10:00:00.0", 4.0)))
    // one commit for the whole merge
    assert(tx.tableVersion("f") == vPre + 1)
    // pre-merge version still shows both day-2 generations
    assert(tx.read("f", asOfVersion = Some(vPre)).count() == 4L)
    // untouched partitions were NOT rewritten: after vacuum, day 1's
    // directory still holds exactly its one original file while day 2
    // (the matched partition) was rewritten; day 4 is the insert
    tx.vacuum("f", retentionMs = 0L)
    def filesIn(p: String) = {
      val d = java.nio.file.Paths.get(s"$dir/tx/feature/f/partition=$p")
      if (!java.nio.file.Files.isDirectory(d)) 0
      else {
        val s0 = java.nio.file.Files.list(d)
        try s0.filter(q => q.toString.endsWith(".parquet")).count().toInt finally s0.close()
      }
    }
    assert(filesIn("2024-01-01") == 1, "untouched partition must keep its single file")
    assert(filesIn("2024-01-04") >= 1, "inserted partition must exist")
    // merge into an EMPTY table degenerates to insert
    val (u2, i2) = tx.mergeInto("g", series(("2024-02-01 10:00:00", "2024-02-01 10:00:00", 9.0)))
    assert((u2, i2) == (0L, 1L))
    assert(tx.read("g").count() == 1L)
    // no-overlap merge is a plain append
    val (u3, i3) = tx.mergeInto("g", series(("2024-02-02 10:00:00", "2024-02-02 10:00:00", 8.0)))
    assert((u3, i3) == (0L, 1L))
    assert(tx.read("g").count() == 2L)
  }

  test("schema evolution: type widen + add column, versioned reads keep old schema") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("graft-tx-evolve")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    // epoch 0: INT values (first write declares the schema)
    val intBatch = Seq(("2024-01-01 10:00:00", 1), ("2024-01-02 10:00:00", 2))
      .toDF("t", "v").select(
        col("t").cast("timestamp").as("time"),
        col("t").cast("timestamp").as("created_time"),
        col("v").as("value"))
    tx.save("f", intBatch)
    val vInt = tx.tableVersion("f")
    assert(tx.tableSchema("f").get("value").dataType == IntegerType)
    assert(tx.read("f").schema("value").dataType == IntegerType)
    // widen to double; the parquet reader cannot do int64->double on
    // its own, so the epoch-grouped read path is what's under test
    tx.evolveValueType("f", DoubleType)
    tx.save("f", series(("2024-01-03 10:00:00", "2024-01-03 10:00:00", 3.5)))
    val out = tx.read("f")
    assert(out.schema("value").dataType == DoubleType)
    assert(out.orderBy("time").collect().map(_.getDouble(2)).toSeq == Seq(1.0, 2.0, 3.5))
    // the old snapshot reads the OLD schema: int values, no widening
    val old = tx.read("f", asOfVersion = Some(vInt))
    assert(old.schema("value").dataType == IntegerType)
    assert(old.orderBy("time").collect().map(_.getInt(2)).toSeq == Seq(1, 2))
    // narrowing and drops refuse
    intercept[IllegalArgumentException](tx.evolveValueType("f", IntegerType))
    intercept[IllegalArgumentException](tx.evolveSchema("f", StructType(Seq(
      StructField("time", TimestampType), StructField("created_time", TimestampType),
      StructField("value", DoubleType), StructField("partition", StringType)))))
    // add a column: subsequent saves may carry it, old files read null
    tx.evolveSchema("f", tx.tableSchema("f").get.add("quality", DoubleType))
    val vAdd = tx.tableVersion("f")
    val withQ = Seq(("2024-01-04 10:00:00", 4.0, 0.9)).toDF("t", "v", "quality")
      .select(col("t").cast("timestamp").as("time"),
        col("t").cast("timestamp").as("created_time"),
        col("v").as("value"), col("quality"))
    tx.save("f", withQ)
    val wide = tx.read("f").orderBy("time").collect()
    assert(wide.map(_.schema.fieldNames.toSeq).head ==
      Seq("time", "created_time", "value", "quality"))
    assert(wide.map(r => Option(r.get(3))).toSeq ==
      Seq(None, None, None, Some(0.9)))
    // a save WITHOUT the new column still conforms (null-filled)
    tx.save("f", series(("2024-01-05 10:00:00", "2024-01-05 10:00:00", 5.0)))
    assert(tx.read("f").count() == 5L)
    // pre-add-column version still shows the 3-column envelope (before
    // vacuum reclaims its files)
    assert(tx.read("f", asOfVersion = Some(vAdd - 1)).columns.toSeq ==
      Seq("time", "created_time", "value"))
    // maintenance across epochs: compact + vacuum rewrite everything to
    // the latest schema and the table still reads exactly
    tx.compact("f")
    tx.vacuum("f", retentionMs = 0L)
    val post = tx.read("f").orderBy("time").collect()
    assert(post.map(_.getDouble(2)).toSeq == Seq(1.0, 2.0, 3.5, 4.0, 5.0))
    assert(post.map(r => Option(r.get(3))).toSeq ==
      Seq(None, None, None, Some(0.9), None))
    // undeclared extra columns still refuse at save validation
    intercept[IllegalArgumentException] {
      tx.save("f", withQ.withColumnRenamed("quality", "undeclared"))
    }
  }

  test("optimize bin-packs small files in one commit without changing a row") {
    val dir = tmpDir("graft-optimize")
    val tx = new TimeseriesStore(spark, dir)
    // 8 tiny appends to one day + 2 to another: the micro-batch-sink
    // accumulation shape
    (0 until 8).foreach { i =>
      tx.save("f", series(("2024-01-01 10:0%d:00".format(i), "2024-01-01 10:00:00", i.toDouble)))
    }
    (0 until 2).foreach { i =>
      tx.save("f", series(("2024-02-01 10:0%d:00".format(i), "2024-02-01 10:00:00", 100.0 + i)))
    }
    val before = tx.read("f").orderBy("time", "created_time")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val preVersion = tx.tableVersion("f")
    val retired = tx.optimize("f") // default 128MB target: everything here is undersized
    assert(retired == 10L)
    // exactly ONE commit published the whole re-pack
    assert(tx.tableVersion("f") == preVersion + 1)
    // the live layout is one ranged file now; rows are bit-identical
    // (optimize must NOT dedup — both generations of nothing here, but
    // the row multiset is the check)
    val logNow = new TxLog(spark.sparkContext.hadoopConfiguration, s"$dir/feature/f")
    val after = tx.read("f").orderBy("time", "created_time")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    assert(after == before)
    assert(logNow.snapshot().size < 10)
    // time travel to the pre-optimize version still reads the OLD files
    assert(tx.read("f", asOfVersion = Some(preVersion)).count() == 10)
    // nothing left under target: second optimize is a no-op... except a
    // single surviving small file per partition is deliberately spared
    assert(tx.optimize("f") == 0L)
    // vacuum reclaims the retired small files
    assert(tx.vacuum("f", retentionMs = 0L) >= 10L)
    assert(tx.read("f").count() == 10)
  }

  test("optimize converges: half-target files and repacked outputs never re-qualify") {
    val dir = tmpDir("graft-opt-conv")
    val tx = new TimeseriesStore(spark, dir)
    (0 until 4).foreach(i =>
      tx.save("f", series((s"2024-01-01 10:0$i:00", "2024-01-01 10:00:00", i.toDouble))))
    import scala.jdk.CollectionConverters._
    def liveBytes: Long = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir, "feature", "f", "partition=2024-01-01"))
      .iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
    val total = liveBytes
    // files at or above HALF the target are never victims — a partition
    // of good-enough files is left alone (the non-convergence guard)
    assert(tx.optimize("f", targetBytes = 2L) == 0L)
    // pack-worthy at a generous target: 4 files -> 1, then steady state
    assert(tx.optimize("f", targetBytes = total + 1) == 4L)
    assert(tx.optimize("f", targetBytes = total + 1) == 0L)
    assert(tx.read("f").count() == 4)
  }

  test("tableStatsFast: metadata-only count/bounds track saves, deletes, rewrites") {
    val tx = freshStore()
    tx.save("fast", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-01-02 11:30:00", "2024-01-02 11:30:00", 2.0)))
    tx.save("fast", series(("2024-01-05 09:15:00", "2024-01-05 09:15:00", 3.0)))
    val s1 = tx.tableStatsFast("fast").get
    assert(s1.rows === 3L)
    assert(s1.tminMicros.contains(ts("2024-01-01T10:00:00").getTime * 1000L))
    assert(s1.tmaxMicros.contains(ts("2024-01-05T09:15:00").getTime * 1000L))
    assert(s1.vmin.contains(1.0) && s1.vmax.contains(3.0))
    // the fast numbers must agree with the scan they replace
    assert(tx.read("fast").count() === 3L)
    // delete rewrites victims -> counts and bounds stay exact
    tx.deleteWhere("fast", col("time") === lit(ts("2024-01-05T09:15:00")))
    val s2 = tx.tableStatsFast("fast").get
    assert(s2.rows === 2L)
    assert(s2.tmaxMicros.contains(ts("2024-01-02T11:30:00").getTime * 1000L))
    // compaction preserves the row count (dedup: none here)
    tx.compact("fast")
    assert(tx.tableStatsFast("fast").get.rows === 2L)
    // unknown feature -> None; fall back is the caller's scan
    assert(tx.tableStatsFast("nope").isEmpty)
  }

  test("optimistic commits: racing writers all land, versions distinct") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmpDir("graft-race")
    // hammer one log from parallel threads: every commit must get its
    // own version (the no-overwrite rename is the uniqueness gate)
    val versions = Await.result(
      Future.sequence((1 to 8).map { i =>
        Future {
          new TxLog(spark.sparkContext.hadoopConfiguration, dir)
            .commit(Seq(TxAdd(s"partition=2024-01-0$i/fake-$i.parquet", s"2024-01-0$i")))
        }
      }), 2.minutes)
    assert(versions.distinct.size == 8)
    assert(new TxLog(spark.sparkContext.hadoopConfiguration, dir).snapshot().size == 8)
  }

  test("compaction lands exactly once under concurrent append pressure") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmpDir("graft-occ-mix")
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, dir)
    // pre-existing generation the compaction will retire
    val victims = (0 until 4).map(i => TxAdd(s"partition=p/old-$i.parquet", "p"))
    victims.foreach(v => log.commit(Seq(v)))
    // 8 appenders x 5 commits race one compactor retiring the old
    // generation: appends never conflict semantically (blind retry on a
    // lost rename), and the compaction's per-attempt re-validation keeps
    // its removes live through every retry, so ALL 41 commits must land
    val appends = (1 to 8).map { t =>
      Future {
        val mine = new TxLog(spark.sparkContext.hadoopConfiguration, dir)
        (1 to 5).map(i => mine.commit(
          Seq(TxAdd(s"partition=p/app-$t-$i.parquet", "p")), maxAttempts = 500))
      }
    }
    val compaction = Future {
      new TxLog(spark.sparkContext.hadoopConfiguration, dir).commit(
        Seq(TxAdd("partition=p/compacted.parquet", "p")),
        victims.map(v => TxRemove(v.path)), maxAttempts = 500)
    }
    val versions = Await.result(Future.sequence(appends), 2.minutes).flatten :+
      Await.result(compaction, 2.minutes)
    // every commit got its own version: exactly-once, no double-publish
    assert(versions.distinct.size == 41)
    val snap = log.snapshot().map(_.path).toSet
    assert(snap.size == 41) // 40 appends + compacted, zero old survivors
    assert(!snap.exists(_.contains("old-")) && snap.contains("partition=p/compacted.parquet"))
  }

  test("txn commits are exactly-once; remove-bearing commits conflict-check") {
    val dir = tmpDir("graft-occ")
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, dir)
    assert(log.commit(Seq(TxAdd("partition=p/a.parquet", "p")), Nil, Some("batch-1")) == 0L)
    // a second writer replaying the same batch id (zombie driver + its
    // replacement) must no-op — the in-loop recheck, not just the
    // caller's pre-check, is what closes the race window
    assert(log.commit(Seq(TxAdd("partition=p/dup.parquet", "p")), Nil, Some("batch-1")) == -1L)
    assert(log.snapshot().map(_.path) == Seq("partition=p/a.parquet"))
    assert(log.commit(Seq(TxAdd("partition=p/b.parquet", "p")), Nil, Some("batch-2")) == 1L)
    // racing compactions built on the same stale snapshot: the second
    // retire of a.parquet fails loudly instead of double-publishing
    assert(log.commit(Seq(TxAdd("partition=p/c1.parquet", "p")),
      Seq(TxRemove("partition=p/a.parquet"))) == 2L)
    intercept[java.util.ConcurrentModificationException] {
      log.commit(Seq(TxAdd("partition=p/c2.parquet", "p")),
        Seq(TxRemove("partition=p/a.parquet")))
    }
    assert(log.snapshot().map(_.path).toSet ==
      Set("partition=p/b.parquet", "partition=p/c1.parquet"))
  }

  test("structured txns: one high-water mark per stream, bounded checkpoint state") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmpDir("graft-apptxn")
    val log = new TxLog(conf, dir)
    // 25 batches from one stream + an opaque-id writer interleaved:
    // both forms coexist on one log
    for (k <- 0 until 25)
      assert(log.commit(Seq(TxAdd(f"partition=p/b$k%02d.parquet", "p")),
        txnAppVer = Some(("s1", k.toLong))) >= 0)
    assert(log.commit(Seq(TxAdd("partition=p/legacy.parquet", "p")), Nil, Some("op-1")) >= 0)
    // re-delivery of ANY past batch no-ops; only strictly newer commits
    assert(log.commit(Seq(TxAdd("partition=p/dup.parquet", "p")),
      txnAppVer = Some(("s1", 24L))) == -1L)
    assert(log.commit(Seq(TxAdd("partition=p/dup.parquet", "p")),
      txnAppVer = Some(("s1", 3L))) == -1L)
    assert(log.txnLatest("s1").contains(24L) && log.txnSeen("s1", 10L) && !log.txnSeen("s1", 25L))
    // a second stream tracks independently
    assert(log.commit(Seq(TxAdd("partition=p/s2.parquet", "p")),
      txnAppVer = Some(("s2", 0L))) >= 0)
    // cold restart: high-water marks survive via the checkpoint, and
    // the checkpoint carries ONE line per stream — not one per batch
    val cold = new TxLog(conf, dir)
    assert(cold.txnLatest("s1").contains(24L) && cold.txnLatest("s2").contains(0L))
    assert(cold.txnSeen("op-1"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val ckpts = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_txlog"))
      .map(_.getPath.getName).filter(_.endsWith(".checkpoint.json")).sorted
    val lines = scala.io.Source.fromInputStream(
      fs.open(new org.apache.hadoop.fs.Path(dir, s"_txlog/${ckpts.last}")), "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    val appLines = lines.count(_.contains("txnApp"))
    assert(appLines <= 2, s"expected <=2 per-stream lines in the checkpoint, got $appLines")
  }

  test("streaming writeTx by (streamId, batchId) is exactly-once across store instances") {
    val dir = tmpDir("graft-sinktx")
    val store = new TimeseriesStore(spark, s"$dir/tx")
    val batch = series(("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0))
    assert(store.writeTx("f", store.normalizeForSave(batch, "date"), "sink", 0L))
    // the zombie's replacement replays batch 0 through a FRESH store
    val store2 = new TimeseriesStore(spark, s"$dir/tx")
    assert(!store2.writeTx("f", store.normalizeForSave(batch, "date"), "sink", 0L))
    assert(store2.writeTx("f",
      store2.normalizeForSave(series(("2024-01-01 11:00:00", "2024-01-01 11:00:00", 2.0)), "date"),
      "sink", 1L))
    assert(store.read("f").count() == 2)
  }

  test("incremental replay cache sees foreign commits, survives vacuum, never regresses") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmpDir("graft-replay-cache")
    val a = new TxLog(conf, dir)
    val b = new TxLog(conf, dir)
    // a caches v0; b commits v1 behind a's back; a's next replay MUST
    // extend its cache with b's commit, not serve the stale snapshot
    a.commit(Seq(TxAdd("partition=p/a0.parquet", "p")), Nil, Some("t-a0"))
    assert(a.snapshot().map(_.path) == Seq("partition=p/a0.parquet"))
    b.commit(Seq(TxAdd("partition=p/b1.parquet", "p")), Nil, Some("t-b1"))
    assert(a.snapshot().map(_.path).toSet ==
      Set("partition=p/a0.parquet", "partition=p/b1.parquet"))
    assert(a.txnSeen("t-b1")) // foreign txn id visible through the cache
    // run past a checkpoint (v10) and retire a file so the cached live
    // set must shrink too, then vacuum the subsumed commits away
    (2 to 11).foreach(i => a.commit(Seq(TxAdd(s"partition=p/f$i.parquet", "p")),
      if (i == 11) Seq(TxRemove("partition=p/a0.parquet")) else Nil, Some(s"t-$i")))
    assert(!a.snapshot().map(_.path).contains("partition=p/a0.parquet"))
    a.vacuum(retentionMs = 0L)
    // b's cache sits at v1; commits 2..10 are now checkpoint-only, so
    // b's fast path must refuse and fall back to the anchored replay
    assert(b.snapshot().map(_.path).toSet == a.snapshot().map(_.path).toSet)
    assert(b.txnSeen("t-11"))
    // duplicate txn refusal through both warm caches
    assert(a.commit(Seq(TxAdd("partition=p/dup.parquet", "p")), Nil, Some("t-b1")) == -1L)
    assert(b.commit(Seq(TxAdd("partition=p/dup.parquet", "p")), Nil, Some("t-5")) == -1L)
    // time travel below the cached version full-replays without
    // regressing the cache: latest reads still see everything after
    assert(a.snapshot(Some(10L)).map(_.path).toSet.contains("partition=p/a0.parquet"))
    assert(!a.snapshot().map(_.path).contains("partition=p/a0.parquet"))
    // a cold instance agrees with both warm caches
    assert(new TxLog(conf, dir).snapshot().map(_.path).toSet ==
      a.snapshot().map(_.path).toSet)
  }

  test("vacuum prunes commits subsumed by the newest checkpoint; numbering survives") {
    val dir = tmpDir("graft-logvac")
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, dir)
    (0 until 12).foreach(i => log.commit(Seq(TxAdd(s"partition=p/f$i.parquet", "p"))))
    // checkpoint landed at v10: commits 0..10 are subsumed by it
    assert(log.vacuum(retentionMs = 0L) == 11L)
    assert(log.latestVersion() == 11L) // the checkpoint carries the high-water mark
    assert(log.snapshot().map(_.path).toSet == (0 until 12).map(i => s"partition=p/f$i.parquet").toSet)
    // version numbering continues ABOVE the checkpoint — a commit-only
    // reading would restart at 0 and corrupt ordering
    assert(log.commit(Seq(TxAdd("partition=p/f12.parquet", "p"))) == 12L)
    assert(new TxLog(spark.sparkContext.hadoopConfiguration, dir).snapshot().size == 13)
    // time travel BELOW the surviving checkpoint fails loudly — a
    // silently empty table would look legitimate (the data-file analogue
    // at least throws FileNotFound); at-or-above the checkpoint it works
    val ex = intercept[IllegalStateException] { log.snapshot(Some(5L)) }
    assert(ex.getMessage.contains("vacuumed"))
    assert(log.snapshot(Some(10L)).size == 11)
    // a genuinely empty log keeps the empty-result contract
    assert(new TxLog(spark.sparkContext.hadoopConfiguration,
      tmpDir("graft-emptylog")).snapshot(Some(3L)).isEmpty)
  }

  test("vacuum reaps crashed stage batches; file-less feature dirs read as empty") {
    val dir = tmpDir("graft-stage")
    val tx = new TimeseriesStore(spark, dir)
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0)))
    // a writer that died between staging and install leaves its batch
    // under .stage — outside the table dir the log vacuum walks
    val orphan = java.nio.file.Paths.get(dir, ".stage", "f", "zombie-uuid")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-0.parquet"), "x")
    // a LIVE long-running write: the stage root's mtime reflects job
    // start (old), but a task file landed moments ago — staleness keys
    // on the tree's newest mtime, so this stage survives the vacuum
    val inflight = java.nio.file.Paths.get(dir, ".stage", "f", "inflight-uuid")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.parquet"), "y")
    val oldT = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.setLastModifiedTime(inflight, oldT)
    assert(tx.vacuum("f", retentionMs = 0L) >= 1L)
    assert(!java.nio.file.Files.exists(orphan))
    assert(tx.read("f").count() == 1L) // live data untouched
    // recreate the stale-root/fresh-file stage reaped by the 0-retention
    // pass above, and vacuum at the default horizon: root mtime alone
    // would call it stale; the fresh task file must keep it alive
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.parquet"), "y")
    java.nio.file.Files.setLastModifiedTime(inflight, oldT)
    tx.vacuum("f")
    assert(java.nio.file.Files.exists(inflight))
    // a feature dir holding no log and no parquet (external mkdir)
    // honors the documented empty contract
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "feature", "g"))
    assert(tx.read("g").isEmpty)
    assert(tx.read("g").columns.toSeq == Seq("time", "created_time", "value"))
  }

  test("checkpoint bounds replay and preserves the snapshot") {
    val dir = tmpDir("graft-ckpt")
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, dir)
    (0 until 23).foreach { i =>
      log.commit(Seq(TxAdd(s"partition=p/f$i.parquet", "p")),
        if (i >= 3 && i % 3 == 0) Seq(TxRemove(s"partition=p/f${i - 3}.parquet")) else Nil)
    }
    val snap = log.snapshot().map(_.path).toSet
    // independent replayer (fresh instance) agrees — checkpoint at v10
    // and v20 didn't lose or resurrect anything
    val snap2 = new TxLog(spark.sparkContext.hadoopConfiguration, dir).snapshot().map(_.path).toSet
    assert(snap == snap2)
    assert(snap.size == 23 - 7)
    assert((0 until 23).filter(i => i >= 3 && i % 3 == 0).forall(i => !snap(s"partition=p/f${i - 3}.parquet")))
  }

  test("year-style partitions: log-metadata pruning widens one year each side") {
    val tx = freshStore()
    tx.save("f", series(
      ("2019-06-01 00:00:00", "2019-06-01 00:00:00", 1.0),
      ("2021-06-01 00:00:00", "2021-06-01 00:00:00", 2.0),
      ("2024-06-01 00:00:00", "2024-06-01 00:00:00", 3.0)), partitionStyle = "year")
    assert(tx.listPartitions("f") == Seq("2019", "2021", "2024"))
    val df = tx.read("f", from = Some(ts("2021-01-01")), to = Some(ts("2021-12-31")),
      partitionStyle = "year")
    val files = df.queryExecution.executedPlan.collectLeaves().flatMap {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
      case _ => Nil
    }
    // ±1-year widening keeps 2021 (and would keep 2020/2022 if present)
    // but prunes 2019 and 2024 from the file list entirely
    assert(files.nonEmpty && files.forall(_.contains("partition=2021")))
    assert(df.collect().map(_.getDouble(2)).toSeq == Seq(2.0))
  }

  test("facade loadDataFrame time-travels txlog features by table version") {
    val dir = tmpDir("graft-fs-tx")
    val fstore = new graft.api.FeatureStore(spark, s"$dir/catalog.json")
    fstore.createNamespace("tx", s"$dir/wh", backend = "txlog")
    fstore.createFeature("tx/f")
    def batch(created: String, v: Double) =
      Seq(("2024-01-01 10:00:00", created, v)).toDF("t", "ct", "v").select(
        col("t").cast("timestamp").as("time"),
        col("ct").cast("timestamp").as("created_time"),
        col("v").as("value"))
    fstore.saveDataFrame(batch("2024-01-01 10:00:00", 1.0), name = Some("tx/f")) // version 0
    fstore.saveDataFrame(batch("2024-01-01 11:00:00", 9.0), name = Some("tx/f")) // version 1
    def load(asOf: Option[Long]) =
      fstore.loadDataFrame(Seq("tx/f"), asOfVersion = asOf)
        .collect().map(_.getDouble(1)).toSeq
    assert(load(None) == Seq(9.0))    // latest: the correction wins dedup
    assert(load(Some(0L)) == Seq(1.0)) // the v0 snapshot predates it
    // facade OPTIMIZE: re-packs the two one-row files, rows preserved
    // (both generations survive — optimize never dedups)
    assert(fstore.optimizeFeature("tx/f") == 2L)
    assert(load(None) == Seq(9.0))
    fstore.transformSql("tx/t", Seq("tx/f"), "f0 * 2")
    intercept[IllegalArgumentException](fstore.optimizeFeature("tx/t"))
  }

  test("last() tail lookup reads the txlog snapshot, post-compaction") {
    val dir = tmpDir("graft-last-tx")
    val fstore = new graft.api.FeatureStore(spark, s"$dir/catalog.json")
    fstore.createNamespace("tx", s"$dir/wh", backend = "txlog")
    fstore.createFeature("tx/f")
    def batch(t: String, created: String, v: Double) =
      Seq((t, created, v)).toDF("t", "ct", "v").select(
        col("t").cast("timestamp").as("time"),
        col("ct").cast("timestamp").as("created_time"),
        col("v").as("value"))
    fstore.saveDataFrame(batch("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      name = Some("tx/f"))
    fstore.saveDataFrame(batch("2024-03-05 10:00:00", "2024-03-05 10:00:00", 7.0),
      name = Some("tx/f"))
    fstore.compactFeature("tx/f")
    // the tail-partition point lookup routes through the log's
    // partition listing + snapshot file set, not directory walks
    assert(fstore.last(Seq("tx/f"))("tx/f").contains(7.0))
    assert(fstore.first(Seq("tx/f"))("tx/f").contains(1.0))
  }

  test("copy from a log-backed store carries the LIVE snapshot only") {
    val (tx, dest) = (freshStore(), freshStore())
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0)))
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 11:00:00", 9.0)))
    tx.compact("f")
    tx.copy("f", "g", dest)
    // a raw-directory copy would have resurrected both generations
    assert(dest.read("g").collect().map(_.getDouble(2)).toSeq == Seq(9.0))
    assert(dest.tableVersion("g") == 0L) // one commit in the destination's log
  }
}
