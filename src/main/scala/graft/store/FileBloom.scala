package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom filters for txlog point-lookup file skipping — the
  * Delta bloom-filter-index idea: min/max footer stats prune RANGE
  * probes but are useless for `key = x` on a column whose values
  * interleave across files (every file's [min,max] straddles every
  * probe); a 1 KB bloom per file answers "definitely not here" for
  * exact-match probes, and at 100 TB that is the difference between
  * opening every file of a year's history and opening the handful
  * that can contain the key. The log carries the blooms, so pruning
  * — like all txlog skipping — is a driver-side metadata decision
  * with zero data IO.
  *
  * Encoding: base64 of [version:1][k:1][bit words:8·w] — self-
  * describing (k rides the payload), so a re-declared index with a
  * different k never misreads old files' blooms. Hashing is
  * MD5(utf8(string rendering)) split into two 64-bit halves combined
  * Kirsch–Mitzenmacher style (g_i = h1 + i·h2 mod bits) — pure JVM
  * arithmetic, identical on executors (build) and the driver (probe),
  * with no dependence on Spark expression semantics. The STRING
  * rendering is the contract: build casts the column to string, probes
  * render the literal the same way (documented at the probe site).
  *
  * False positives only cost an extra file scan (the safe direction);
  * false negatives are impossible by construction. Default 8192 bits /
  * 6 hashes ≈ 0.9% fp at 600 distinct keys per file, 1 KB per file in
  * the log.
  */
object FileBloom {

  val Version: Byte = 1

  /** Two independent 64-bit hashes of a value's string rendering. */
  private def hash2(v: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(v.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.wrap(d)
    (bb.getLong(0), bb.getLong(8))
  }

  private def probeBits(v: String, k: Int, bits: Int): Seq[Int] = {
    val (h1, h2) = hash2(v)
    (0 until k).map { i =>
      val g = h1 + i * h2
      // floorMod keeps the index non-negative for negative hash sums
      java.lang.Math.floorMod(g, bits.toLong).toInt
    }
  }

  def add(words: Array[Long], v: String, k: Int): Unit =
    probeBits(v, k, words.length * 64).foreach { b =>
      words(b >> 6) |= (1L << (b & 63))
    }

  def mightContain(words: Array[Long], v: String, k: Int): Boolean =
    probeBits(v, k, words.length * 64).forall { b =>
      (words(b >> 6) & (1L << (b & 63))) != 0
    }

  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, "bloom width mismatch in union")
    val out = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) | b(i); i += 1 }
    out
  }

  def encode(k: Int, words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(2 + words.length * 8)
    bb.put(Version).put(k.toByte)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** Decode a payload; None on unknown version (degrade to never-skip,
    * the footer-stats doctrine). */
  def decode(s: String): Option[(Int, Array[Long])] =
    try {
      val bytes = java.util.Base64.getDecoder.decode(s)
      if (bytes.length < 2 || bytes(0) != Version || (bytes.length - 2) % 8 != 0) None
      else {
        val bb = java.nio.ByteBuffer.wrap(bytes, 2, bytes.length - 2)
        val words = new Array[Long]((bytes.length - 2) / 8)
        var i = 0
        while (i < words.length) { words(i) = bb.getLong; i += 1 }
        Some((bytes(1).toInt, words))
      }
    } catch { case _: IllegalArgumentException => None }

  /** Does this add's bloom admit `v`? Absent/undecodable/foreign-column
    * blooms always admit (never-skip degradation). */
  def addMightContain(a: TxAdd, column: String, v: String): Boolean =
    (a.blc, a.bl) match {
      case (Some(c), Some(payload)) if c == column =>
        decode(payload) match {
          case Some((k, words)) => mightContain(words, v, k)
          case None             => true
        }
      case _ => true
    }

  /** One `bits`-bit / `k`-hash bloom per file over `(file, value)`
    * pairs: the per-file builder behind both writers, the scan tasks of
    * [[buildForStage]] and the driver writer, which feed it the same
    * non-null string renderings. */
  def accumulate(pairs: Iterator[(String, String)], bits: Int, k: Int): Map[String, Array[Long]] = {
    val m = scala.collection.mutable.Map[String, Array[Long]]()
    pairs.foreach { case (f, v) => add(m.getOrElseUpdate(f, new Array[Long](bits / 64)), v, k) }
    m.toMap
  }

  /** Build one bloom per staged file in ONE Spark job: map-side
    * builders keyed by the file each row came from, OR-merged across
    * splits (a file large enough to span input splits yields partial
    * blooms; union is exact). Returns stage-RELATIVE path → payload —
    * the same `partition=<p>/<file>` key the TxAdd will carry. Null
    * keys are not added (a bloom can't index null; `key IS NULL`
    * probes must scan, which absent-bit semantics already guarantee
    * only for files where null rows contributed nothing — so the
    * probe API only accepts non-null literals). The stage is read with
    * the namespace's storage `options`, as the write that staged it.
    */
  def buildForStage(
      spark: SparkSession,
      stageDir: String,
      column: String,
      bits: Int,
      k: Int,
      options: Map[String, String]): Map[String, String] = {
    require(bits % 64 == 0 && bits > 0, s"bloom bits must be a positive multiple of 64: $bits")
    require(k >= 1 && k <= 127, s"bloom hash count out of range: $k")
    val stagePrefix = {
      val u = new Path(stageDir).toUri.getPath
      if (u.endsWith("/")) u else u + "/"
    }
    val rows: DataFrame = spark.read.options(options).parquet(stageDir)
      .select(input_file_name().as("f"), col(column).cast("string").as("v"))
      .filter(col("v").isNotNull)
    rows.rdd
      .mapPartitions(it => accumulate(it.map(r => (r.getString(0), r.getString(1))), bits, k).iterator)
      .reduceByKey(union)
      .collect()
      .map { case (f, arr) =>
        val p = new Path(f).toUri.getPath
        val rel = if (p.startsWith(stagePrefix)) p.substring(stagePrefix.length) else p
        rel -> encode(k, arr)
      }
      .toMap
  }
}
