package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one footer-stats reader: a file's bounds are exact in the
  * column's physical type in the store's adds, the Delta `stats` and
  * the Iceberg manifest alike, also for longs that one double cannot
  * tell apart. */
class FileMetaSpec extends SparkSpec {
  import spark.implicits._

  private val TwoTo53 = 1L << 53
  private val TwoTo60 = 1L << 60

  /** The `value` bounds of the single data file of the Delta export at
    * `dir`, as exact longs. */
  private def deltaBounds(dir: String): (Long, Long) = {
    val adds = Files.readAllLines(Paths.get(s"$dir/_delta_log/00000000000000000000.json")).asScala
      .map(TimeseriesStore.manifestMapper.readTree).flatMap(n => Option(n.get("add"))).toSeq
    val Seq(add) = adds
    val stats = TimeseriesStore.manifestMapper.readTree(add.get("stats").asText())
    (stats.get("minValues").get("value").asLong(), stats.get("maxValues").get("value").asLong())
  }

  /** The `value` bounds of the single data file of the Iceberg export at
    * `dir`, decoded from the manifest's little-endian bound bytes. */
  private def icebergBounds(dir: String): (Long, Long) = {
    val meta = Paths.get(s"$dir/metadata")
    val valueId = """\{"id":(\d+),"name":"value"""".r
      .findFirstMatchIn(Files.readString(meta.resolve("v1.metadata.json"))).get.group(1).toInt
    val manifest = {
      val listing = Files.list(meta)
      try listing.iterator().asScala.find(_.getFileName.toString.endsWith("-m0.avro")).get
      finally listing.close()
    }
    val rd = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(Files.readAllBytes(manifest)), new GenericDatumReader[GenericRecord]())
    val Seq(df) = try rd.iterator().asScala.toSeq.map(_.get("data_file").asInstanceOf[GenericRecord])
      finally rd.close()
    def bound(field: String): Long =
      df.get(field).asInstanceOf[java.util.List[GenericRecord]].asScala
        .find(_.get("key") == valueId).get.get("value").asInstanceOf[java.nio.ByteBuffer]
        .duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    (bound("lower_bounds"), bound("upper_bounds"))
  }

  test("long bounds that round to one double stay exact in the store, Delta and Iceberg") {
    assert((TwoTo53 + 1).toDouble == TwoTo53.toDouble && (TwoTo60 + 1).toDouble == TwoTo60.toDouble)
    val root = tmpDir("graft-filemeta")
    // two rows per row group; a small local save is written on the
    // driver, sorted by time, so each file holds the rows in the order
    // below: the exact min of `lo` and the exact max of `hi` sit in the
    // second row group, after a value equal to them as a double
    val st = new TimeseriesStore(spark, s"$root/wh", Map("parquet.block.row.count.limit" -> "2"))
    val times = (0 until 4).map(h => ts(f"2024-01-01T$h%02d:00:00"))
    Seq(
      "lo" -> Seq(TwoTo53 + 1, TwoTo53 + 1, TwoTo53, TwoTo53),
      "hi" -> Seq(TwoTo60, TwoTo60, TwoTo60 + 1, TwoTo60 + 1)
    ).foreach { case (name, values) =>
      st.save(name, times.zip(values).toDF("time", "value"))
      val Seq(add) = st.select(name, None, None).adds
      val file = s"$root/wh/feature/$name/${add.path}"
      assert(FileMeta.footer(new Path(file), st.hadoopConf).getBlocks.size == 2, name)
      val Row(tmin: Long, tmax: Long, n: Long) = spark.read.parquet(file)
        .agg(min(unix_micros(col("time"))), max(unix_micros(col("time"))), count(lit(1))).head()
      assert((add.tmin, add.tmax, add.nrec) == (Some(tmin), Some(tmax), Some(n)), name)

      val exact = (values.min, values.max)
      st.exportSnapshotDelta(name, s"$root/delta-$name")
      assert(deltaBounds(s"$root/delta-$name") == exact, s"$name: Delta minValues/maxValues")
      st.exportSnapshotIceberg(name, s"$root/iceberg-$name")
      assert(icebergBounds(s"$root/iceberg-$name") == exact, s"$name: Iceberg lower/upper bounds")
    }
  }
}
