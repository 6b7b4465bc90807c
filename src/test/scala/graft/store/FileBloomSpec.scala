package graft.store

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Bloom point-lookup file skipping: kernel laws plus the store-level
  * property the oracle gate can't state — that the probe actually
  * PRUNES files (the gate certifies values; this certifies the skip).
  */
class FileBloomSpec extends SparkSpec {
  import spark.implicits._

  test("kernel: no false negatives; encode/decode/union round-trip") {
    val words = new Array[Long](8192 / 64)
    val keys = (0 until 500).map(i => s"key-$i")
    keys.foreach(FileBloom.add(words, _, 6))
    assert(keys.forall(FileBloom.mightContain(words, _, 6)))
    val Some((k, decoded)) = FileBloom.decode(FileBloom.encode(6, words))
    assert(k == 6 && decoded.toSeq == words.toSeq)
    // union admits both sides' members
    val other = new Array[Long](8192 / 64)
    FileBloom.add(other, "only-in-b", 6)
    val u = FileBloom.union(words, other)
    assert(FileBloom.mightContain(u, "key-7", 6) && FileBloom.mightContain(u, "only-in-b", 6))
    // fp rate sane at design load: probe 10k foreign keys, expect ~1%
    val fps = (0 until 10000).count(i => FileBloom.mightContain(words, s"other-$i", 6))
    assert(fps < 300, s"false-positive rate implausibly high: $fps/10000")
  }

  test("kernel: unknown version or garbage degrades to never-skip") {
    assert(FileBloom.decode("!!!not-base64!!!").isEmpty)
    assert(FileBloom.decode(java.util.Base64.getEncoder.encodeToString(
      Array[Byte](99, 6, 0, 0, 0, 0, 0, 0, 0, 0))).isEmpty)
    val add = TxAdd("p=1/f.parquet", "1", blc = Some("k"), bl = Some("@@@"))
    assert(FileBloom.addMightContain(add, "k", "anything")) // undecodable -> scan
    assert(FileBloom.addMightContain(TxAdd("p=1/g.parquet", "1"), "k", "x")) // absent -> scan
  }

  private def entities(day: Int, ids: Seq[Long]) =
    ids.toDF("user_id").select(
      lit(f"2024-01-$day%02d 10:00:00").cast("timestamp").as("time"),
      lit(f"2024-01-$day%02d 10:00:00").cast("timestamp").as("created_time"),
      (col("user_id") * 1.5).as("value"),
      col("user_id"))

  test("store: probes prune to the files that can hold the key; results exact") {
    val dir = tmpDir("graft-bloom")
    val st = new TimeseriesStore(spark, s"$dir/wh")
    // epoch 0 without the key column — these files can never be skipped
    st.save("e", entities(1, Seq(100L)).drop("user_id"))
    st.evolveSchema("e", st.tableSchema("e").get.add("user_id", LongType))
    st.declareBloomIndex("e", "user_id")
    // 6 single-partition writes, disjoint key ranges per day
    (2 to 7).foreach(d => st.save("e", entities(d, (d * 1000L) until (d * 1000L + 50L))))
    val adds = st.candidateFilesForKey("e", "user_id", "nonexistent-key")
    val total = (new TxLog(spark.sessionState.newHadoopConf(), s"$dir/wh/feature/e")).snapshot().size
    // a foreign probe keeps ONLY the bloom-less epoch-0 files
    assert(adds.forall(_.bl.isEmpty), s"foreign key should prune every bloomed file")
    assert(adds.size < total)
    // a real probe keeps the epoch-0 files + (modulo fp) day 4's file
    val hit = st.candidateFilesForKey("e", "user_id", "4025")
    assert(hit.exists(_.bl.nonEmpty) && hit.size < total)
    // and the lookup's ROWS equal the unpruned filter
    val got = st.readKeyEquals("e", "user_id", 4025L)
      .select("time", "value", "user_id").collect().map(_.toSeq).toSet
    val want = st.read("e").filter(col("user_id") === 4025L)
      .select("time", "value", "user_id").collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("store: blooms survive compaction rewrites and the declaration survives checkpoints") {
    val dir = tmpDir("graft-bloom-rw")
    val st = new TimeseriesStore(spark, s"$dir/wh")
    st.save("e", entities(1, Seq(1L, 2L, 3L)).drop("user_id"))
    st.evolveSchema("e", st.tableSchema("e").get.add("user_id", LongType))
    st.declareBloomIndex("e", "user_id")
    // enough commits to cross a checkpoint boundary, stacked on 3 days
    // so optimize() has multi-file partitions to compact
    (2 to 12).foreach(d => st.save("e", entities(d % 3 + 2, Seq(d * 10L))))
    val log = new TxLog(spark.sessionState.newHadoopConf(), s"$dir/wh/feature/e")
    assert(log.bloomConfig().contains(("user_id", 8192, 6)))
    val before = log.snapshot().size
    assert(st.optimize("e", targetBytes = 64L * 1024 * 1024) > 0)
    val after = log.snapshot()
    assert(after.size < before)
    // every post-declaration file — including optimize's REWRITTEN
    // outputs — carries a bloom; only the epoch-0 file (written before
    // user_id existed) legitimately has none
    val (epoch0, bloomed) = after.partition(_.sv.contains(0L))
    assert(epoch0.size == 1 && bloomed.nonEmpty)
    assert(bloomed.forall(a => a.blc.contains("user_id") && a.bl.nonEmpty))
    val got = st.readKeyEquals("e", "user_id", 50L).select("user_id")
      .as[Long].collect().toSeq
    assert(got == Seq(50L))
  }
}
