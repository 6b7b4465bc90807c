package graft.store

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The open-format bridge: exportSnapshot (verbatim + aligned modes,
  * version pinning, manifest) and importSnapshot (fresh-table commit,
  * schema declaration carried). The gate `fs_store_export` hashes the
  * single-epoch verbatim roundtrip against the DuckDB oracle; this
  * spec covers what the gate cannot: mixed-epoch ALIGNED export, the
  * manifest contents, and the refusal edges.
  */
class ExportBridgeSpec extends SparkSpec {
  import spark.implicits._

  private def series(rows: (String, String, Double)*) =
    rows.toSeq.toDF("t", "ct", "v").select(
      col("t").cast("timestamp").as("time"),
      col("ct").cast("timestamp").as("created_time"),
      col("v").as("value"))

  test("verbatim export is a file copy: same bytes, raw-readable, pinned version") {
    val dir = tmpDir("graft-export-verbatim")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    tx.save("f", series(
      ("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0),
      ("2024-01-02 10:00:00", "2024-01-02 10:00:00", 2.0)))
    val pinned = tx.tableVersion("f")
    tx.save("f", series(("2024-01-03 10:00:00", "2024-01-03 10:00:00", 3.0)))
    val v = tx.exportSnapshot("f", s"$dir/out", asOfVersion = Some(pinned))
    assert(v == pinned)
    // raw read, zero graft code: only the pinned version's rows
    val raw = spark.read.parquet(s"$dir/out")
    assert(raw.columns.contains("partition")) // hive layout survived
    assert(raw.select("value").as[Double].collect().sorted.toSeq == Seq(1.0, 2.0))
    // manifest: verbatim mode, the live files listed, row count exact
    val node = TimeseriesStore.manifestMapper.readTree(
      new java.io.File(s"$dir/out/${TimeseriesStore.ManifestName}"))
    assert(node.get("mode").asText() == "verbatim")
    assert(node.get("version").asLong() == pinned)
    assert(node.get("rows").asLong() == 2L)
    assert(node.get("files").size() == 2) // one file per date partition
    // byte-identical copy: each manifest file matches its source length
    import scala.jdk.CollectionConverters._
    node.get("files").elements().asScala.foreach { fn =>
      val src = new java.io.File(s"$dir/tx/feature/f/${fn.asText()}")
      val dst = new java.io.File(s"$dir/out/${fn.asText()}")
      assert(src.length() == dst.length() && src.length() > 0)
    }
  }

  test("mixed-epoch export ALIGNS to the pinned schema; import re-declares it") {
    val dir = tmpDir("graft-export-aligned")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    // epoch 0: INT values
    tx.write("f", Seq(("2024-01-01 10:00:00", 1), ("2024-01-02 10:00:00", 2))
      .toDF("t", "v").select(
        col("t").cast("timestamp").as("time"),
        col("t").cast("timestamp").as("created_time"),
        col("v").as("value"),
        date_format(col("t").cast("timestamp"), "yyyy-MM-dd").as("partition")))
    // epoch 1: widen + a new column; old files now need aligned reads
    tx.evolveValueType("f", DoubleType)
    tx.evolveSchema("f", tx.tableSchema("f").get.add("quality", DoubleType))
    tx.write("f", Seq(("2024-01-03 10:00:00", 3.5, 0.9)).toDF("t", "v", "quality")
      .select(col("t").cast("timestamp").as("time"),
        col("t").cast("timestamp").as("created_time"),
        col("v").as("value"), col("quality"),
        date_format(col("t").cast("timestamp"), "yyyy-MM-dd").as("partition")))
    tx.exportSnapshot("f", s"$dir/out")
    val node = TimeseriesStore.manifestMapper.readTree(
      new java.io.File(s"$dir/out/${TimeseriesStore.ManifestName}"))
    assert(node.get("mode").asText() == "aligned")
    // a raw reader sees ONE uniform schema: widened doubles, nulls for
    // the pre-evolution rows' added column
    val raw = spark.read.parquet(s"$dir/out")
    assert(raw.schema("value").dataType == DoubleType)
    assert(raw.orderBy("time").select("value").as[Double].collect().toSeq
      == Seq(1.0, 2.0, 3.5))
    assert(raw.orderBy("time").select("quality").collect().map(r =>
      Option(r.get(0))).toSeq == Seq(None, None, Some(0.9)))
    // round-trip: import into a fresh table; the evolved schema is
    // declared in the import commit, not re-inferred
    tx.importSnapshot("g", s"$dir/out")
    val back = tx.read("g")
    assert(back.columns.toSeq == Seq("time", "created_time", "value", "quality"))
    assert(back.orderBy("time").select("value").as[Double].collect().toSeq
      == Seq(1.0, 2.0, 3.5))
    assert(tx.read("f").orderBy("time").drop("created_time").collect().toSeq
      == back.orderBy("time").drop("created_time").collect().toSeq)
  }

  test("refusal edges: non-empty destination, import over existing commits") {
    val dir = tmpDir("graft-export-refuse")
    val tx = new TimeseriesStore(spark, s"$dir/tx")
    tx.save("f", series(("2024-01-01 10:00:00", "2024-01-01 10:00:00", 1.0)))
    tx.exportSnapshot("f", s"$dir/out")
    // destination holds data -> refuse (a second export cannot silently
    // interleave two snapshots in one tree)
    intercept[IllegalArgumentException](tx.exportSnapshot("f", s"$dir/out"))
    // import refuses to append to a table that already has commits
    intercept[IllegalArgumentException](tx.importSnapshot("f", s"$dir/out"))
    // a feature with no committed version has no snapshot to pin
    intercept[IllegalArgumentException](tx.exportSnapshot("never", s"$dir/out2"))
  }
}
