package graft.store

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg-format metadata bridge — the second leg of the open-format
  * story next to [[DeltaBridge]] (the BASELINE north star names both):
  * writes Iceberg v2 table metadata (metadata.json + Avro
  * manifest-list + Avro manifest, per the apache/iceberg spec
  * https://iceberg.apache.org/spec/) describing a plain
  * hive-partitioned parquet tree, and replays a simple Iceberg table's
  * CURRENT snapshot back into a DataFrame — so a txlog snapshot
  * exported through [[TimeseriesStore.exportSnapshotIceberg]] opens in
  * any Iceberg reader (Spark+iceberg-runtime, Trino, DuckDB iceberg
  * extension, pyiceberg), and simple tables those engines write can be
  * read here without format jars (Avro itself rides Spark's own
  * classpath).
  *
  * Scoped with the [[DeltaBridge]] refuse-don't-misread doctrine. The
  * READ floor covers what real third-party tables are: identity AND
  * temporal/bucket/truncate partition transforms (human-form pruning
  * values; non-identity source columns must be physically in the data
  * files — probed, else refused), POSITION delete files (one anti-join
  * on `_metadata.row_index`, applied to data sequence <= delete's),
  * EQUALITY delete files (null-safe anti-join on the declared key
  * columns, applied to data sequence strictly below — the Flink CDC
  * shape), and per-snapshot schema-ids across add-column evolution.
  * Still refused: nested column types, branches/refs beyond
  * `current-snapshot-id`, and future format versions — a skipped
  * delete file would resurrect deleted rows, a misapplied transform
  * would fabricate partition values. The WRITE floor is narrower
  * (identity partitioning), since this bridge's writers describe the
  * store's own exports — plus merge-on-read delete commits via
  * [[appendPositionDeletes]]/[[appendEqualityDeletes]].
  *
  * Scale shape: metadata replay is driver-side by design — Iceberg's
  * own planning is: the manifest LIST is one small Avro file per
  * snapshot, manifests carry one entry per data FILE (KBs per commit,
  * never per row). The data read is one multi-file parquet scan with
  * an explicit schema; partition values ride a broadcast
  * (file -> values) map joined on the scan's `_metadata.file_path` —
  * never re-inferred from directory names (Iceberg files need not use
  * hive paths).
  *
  * Write path: one private `commit` writes every snapshot — the export
  * ([[writeTable]], the commit from an empty version 0), a sync
  * ([[appendSnapshot]], [[compactDeletes]]) and both delete kinds —
  * and [[expireSnapshots]]' metadata-only publish. In order it writes
  * the manifest, the manifest-list, `v(N+1).metadata.json` and last
  * `version-hint.text`, the commit point. Each operation reads the
  * current metadata once and replays its snapshot's manifest-list and
  * manifests once, and the commit builds on that replay.
  *
  * Deterministic output: table uuid / snapshot id derive from the
  * caller's tableId, timestamps from data-file mtimes and each Avro
  * file's sync marker from its name, so identical exports produce
  * byte-identical metadata trees.
  */
object IcebergBridge {

  private val MetaDirName = "metadata"
  private def mapper = TimeseriesStore.manifestMapper

  // ---------------------------------------------------------------
  // Avro schemas (field-ids per the Iceberg spec's manifest tables)
  // ---------------------------------------------------------------

  /** Iceberg int-keyed maps are Avro arrays of key/value records with
    * logicalType=map (spec: "Schemas > map"). */
  private def kvMapSchema(name: String, kId: Int, vId: Int, vType: String): String =
    s"""["null", {"type": "array", "logicalType": "map", "items": {
       |  "type": "record", "name": "$name", "fields": [
       |    {"name": "key", "type": "int", "field-id": $kId},
       |    {"name": "value", "type": "$vType", "field-id": $vId}
       |]}}]""".stripMargin

  /** The per-spec partition struct (r102): one optional field per
    * partition-spec field, typed by its transform's result type
    * (identity exports stay strings — the hive k=v form they came
    * from; temporal/bucket transforms carry ints per the spec).
    * `fields` pairs each name with its Avro type JSON.
    */
  private def partitionStructJson(fields: Seq[(String, String)]): String = {
    val fs = fields.zipWithIndex.map { case ((c, tpe), i) =>
      s"""{"name": ${mapper.writeValueAsString(c)}, "type": ["null", $tpe],
         | "default": null, "field-id": ${1000 + i}}""".stripMargin
    }
    s"""{"type": "record", "name": "r102", "fields": [${fs.mkString(",")}]}"""
  }

  private def manifestEntrySchema(partCols: Seq[(String, String)]): Schema =
    new Schema.Parser().parse(
      s"""{"type": "record", "name": "manifest_entry", "fields": [
         |  {"name": "status", "type": "int", "field-id": 0},
         |  {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
         |  {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
         |  {"name": "file_sequence_number", "type": ["null", "long"], "default": null, "field-id": 4},
         |  {"name": "data_file", "field-id": 2, "type": {
         |    "type": "record", "name": "r2", "fields": [
         |      {"name": "content", "type": "int", "field-id": 134},
         |      {"name": "file_path", "type": "string", "field-id": 100},
         |      {"name": "file_format", "type": "string", "field-id": 101},
         |      {"name": "partition", "type": ${partitionStructJson(partCols)}, "field-id": 102},
         |      {"name": "record_count", "type": "long", "field-id": 103},
         |      {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
         |      {"name": "equality_ids", "type": ["null", {"type": "array", "items": "int"}], "default": null, "field-id": 135},
         |      {"name": "value_counts", "type": ${kvMapSchema("k119_v120", 119, 120, "long")}, "default": null, "field-id": 109},
         |      {"name": "null_value_counts", "type": ${kvMapSchema("k121_v122", 121, 122, "long")}, "default": null, "field-id": 110},
         |      {"name": "lower_bounds", "type": ${kvMapSchema("k126_v127", 126, 127, "bytes")}, "default": null, "field-id": 125},
         |      {"name": "upper_bounds", "type": ${kvMapSchema("k129_v130", 129, 130, "bytes")}, "default": null, "field-id": 128}
         |  ]}}
         |]}""".stripMargin)

  private val manifestFileSchema: Schema =
    new Schema.Parser().parse(
      """{"type": "record", "name": "manifest_file", "fields": [
        |  {"name": "manifest_path", "type": "string", "field-id": 500},
        |  {"name": "manifest_length", "type": "long", "field-id": 501},
        |  {"name": "partition_spec_id", "type": "int", "field-id": 502},
        |  {"name": "content", "type": "int", "field-id": 517},
        |  {"name": "sequence_number", "type": "long", "field-id": 515},
        |  {"name": "min_sequence_number", "type": "long", "field-id": 516},
        |  {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        |  {"name": "added_files_count", "type": "int", "field-id": 504},
        |  {"name": "existing_files_count", "type": "int", "field-id": 505},
        |  {"name": "deleted_files_count", "type": "int", "field-id": 506},
        |  {"name": "added_rows_count", "type": "long", "field-id": 512},
        |  {"name": "existing_rows_count", "type": "long", "field-id": 513},
        |  {"name": "deleted_rows_count", "type": "long", "field-id": 514}
        |]}""".stripMargin)

  // ---------------------------------------------------------------
  // Type mapping (the supported primitive floor; refuse the rest)
  // ---------------------------------------------------------------

  private def icebergType(dt: DataType, where: String): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"IcebergBridge: unsupported column type ${other.sql} at $where — " +
        "the bridge floor is primitive columns (refuse-don't-misread)")
  }

  private val DecimalRe = """decimal\((\d+),\s*(\d+)\)""".r

  private def sparkType(t: String, where: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case other => throw new IllegalArgumentException(
      s"IcebergBridge: unsupported Iceberg type '$other' at $where — " +
        "refusing rather than misreading (bridge floor is primitives)")
  }

  // ---------------------------------------------------------------
  // Partition transforms (spec "Partition Transforms"): the read
  // floor accepts identity, void, the temporal family and
  // bucket/truncate — for non-identity transforms the SOURCE column
  // is required to be physically present in the data files (which the
  // spec guarantees for real writers: derived partition values are
  // never the only storage), so the scan needs no metadata fill.
  // ---------------------------------------------------------------

  /** A partition-spec field for [[writeTable]]'s transform mode:
    * `name` is the spec field (and hive directory key), `transform`
    * one of day/month/year/hour/bucket[N]/truncate[W], `source` the
    * data column the transform derives from.
    */
  final case class SpecCol(name: String, transform: String, source: String)

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncateRe = """truncate\[(\d+)\]""".r

  /** Canonical transform name — real metadata carries both singular
    * and plural spellings (`day` and `days`). */
  private def canonTransform(t: String): String = t match {
    case "years" => "year"
    case "months" => "month"
    case "days" | "date" => "day"
    case "hours" | "date_hour" => "hour"
    case other => other
  }

  private def transformSupported(t: String): Boolean = canonTransform(t) match {
    case "identity" | "void" | "year" | "month" | "day" | "hour" => true
    case BucketRe(_) | TruncateRe(_) => true
    case _ => false
  }

  /** Avro type of a transform's partition value as this bridge WRITES
    * it (read tolerates whatever the foreign writer's schema says). */
  private def transformAvroType(t: String, where: String): String =
    canonTransform(t) match {
      case "identity" => "\"string\""
      case "day" => """{"type": "int", "logicalType": "date"}"""
      case "year" | "month" | "hour" => "\"int\""
      case BucketRe(_) => "\"int\""
      case TruncateRe(_) => "\"string\""
      case other => throw new IllegalArgumentException(
        s"IcebergBridge: cannot write partition transform '$other' at $where")
    }

  /** Parse a transform value from its HUMAN directory form (the form
    * Iceberg itself uses in partition paths: day=2024-01-05,
    * month=2024-01, year=2024, hour=2024-01-05-14) into the typed
    * value the manifest partition struct stores.
    */
  private def transformedValue(t: String, human: String, where: String): Any =
    canonTransform(t) match {
      case "identity" => human
      case "day" =>
        java.time.LocalDate.parse(human).toEpochDay.toInt
      case "year" => human.toInt - 1970
      case "month" =>
        val Array(y, m) = human.split("-")
        (y.toInt - 1970) * 12 + (m.toInt - 1)
      case "hour" =>
        val i = human.lastIndexOf('-')
        require(i > 0, s"IcebergBridge: hour value '$human' at $where is not yyyy-MM-dd-HH")
        (java.time.LocalDate.parse(human.substring(0, i)).toEpochDay * 24 +
          human.substring(i + 1).toInt).toInt
      case BucketRe(n) =>
        val v = human.toInt
        require(v >= 0 && v < n.toInt,
          s"IcebergBridge: bucket value $v out of [0, $n) at $where")
        v
      case TruncateRe(w) =>
        require(human.length <= w.toInt,
          s"IcebergBridge: truncate[$w] value '$human' at $where exceeds the width")
        human
      case other => throw new IllegalArgumentException(
        s"IcebergBridge: cannot write partition transform '$other' at $where")
    }

  /** Render a manifest partition value in its HUMAN form for
    * [[readWhere]] predicates — the same rendering Iceberg uses in
    * partition paths, so a user writes `pv("ts_day") == "2024-01-05"`
    * regardless of the int encoding in the struct. Non-numeric raw
    * values (a foreign writer storing strings) pass through.
    */
  private def humanPartValue(t: String, raw: Any): String = {
    if (raw == null) return null
    val num = raw match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    canonTransform(t) match {
      case "void" => null
      case "year" => num.map(v => (1970 + v).toString).getOrElse(raw.toString)
      case "month" => num.map(v =>
        f"${1970 + Math.floorDiv(v, 12)}%04d-${Math.floorMod(v, 12) + 1}%02d")
        .getOrElse(raw.toString)
      case "day" => num.map(v => java.time.LocalDate.ofEpochDay(v).toString)
        .getOrElse(raw.toString)
      case "hour" => num.map(v =>
        f"${java.time.LocalDate.ofEpochDay(Math.floorDiv(v, 24))}-${Math.floorMod(v, 24)}%02d")
        .getOrElse(raw.toString)
      // identity / bucket / truncate: the stored value IS the human form
      case _ => raw.toString
    }
  }

  // ---------------------------------------------------------------
  // Per-file stats from one parquet footer read
  // ---------------------------------------------------------------

  /** The Iceberg stats of a file's [[FileMeta.ColumnStats.plainNumeric]]
    * columns that have a field id: (field id, null count, lower bound,
    * upper bound) sorted by id, the bounds in Iceberg single-value
    * serialization (spec "Appendix D": little-endian fixed-width
    * bytes). Plain arrays, so the stats ship from an executor. */
  private def bounds(
      s: FileMeta.Stats, fieldIds: Map[String, Int]): Seq[(Int, Long, Array[Byte], Array[Byte])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def bytes(c: FileMeta.ColumnStats, v: Any): Array[Byte] = {
      val n = v.asInstanceOf[java.lang.Number]
      val bb = c.physical match {
        case INT32 => ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(n.intValue())
        case INT64 => ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(n.longValue())
        case FLOAT => ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putFloat(n.floatValue())
        case DOUBLE => ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(n.doubleValue())
      }
      bb.array()
    }
    s.columns.collect { case (n, c) if c.plainNumeric && fieldIds.contains(n) =>
      (fieldIds(n), c.nulls, bytes(c, c.min), bytes(c, c.max))
    }.sortBy(_._1)
  }

  // ---------------------------------------------------------------
  // Write path: every snapshot and every metadata version is written
  // by [[commit]], over one [[Table]] opened by the caller
  // ---------------------------------------------------------------

  /** Writes `records` as one Avro file at `p` and returns its length.
    * The sync marker is the MD5 of the file name: Avro otherwise draws
    * a random marker per file, and two identical exports would differ
    * byte-wise. */
  private def writeAvro(
      fs: FileSystem, p: Path, schema: Schema,
      meta: Seq[(String, String)], records: Seq[GenericRecord]): Long = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(p.getName.getBytes(StandardCharsets.UTF_8))
    val out = fs.create(p, true)
    try {
      w.create(schema, out, sync)
      records.foreach(w.append)
      w.close()
    } finally out.close()
    fs.getFileStatus(p).getLen
  }

  /** `schema.name-mapping.default` property (spec "Name Mapping
    * Serialization"): bridge data files carry no parquet field ids, so
    * REAL Iceberg readers need this name->id mapping to resolve
    * columns — and to null-fill missing columns across schema
    * evolution instead of failing.
    */
  private def nameMappingJson(fields: Seq[(String, Int)]): String =
    mapper.writeValueAsString(fields.map { case (n, id) =>
      Map[String, Any]("field-id" -> id, "names" -> Seq(n)) })

  private def kvArray(
      schema: Schema, entries: Seq[(Int, Any)]): java.util.List[GenericRecord] = {
    val items = schema.getTypes.get(1).getElementType // ["null", array] -> items
    entries.map { case (k, v) =>
      val r = new GenericData.Record(items)
      r.put("key", k); r.put("value", v); r: GenericRecord
    }.asJava
  }

  /** The data_file record of every manifest entry the bridge writes:
    * an ADDED data file with its footer stats, a carried EXISTING file
    * with the bounds its previous entry recorded, or a delete file
    * (`content` 1 = position, 2 = equality on `equalityIds`). Stat maps
    * are keyed by field id and written only when non-empty, so every
    * writer emits one entry dialect. */
  private def dataFileRecord(
      dataFileSchema: Schema,
      path: String,
      partValues: Seq[(String, Any)],
      rows: Long, size: Long,
      valueCounts: Seq[(Int, Long)] = Nil,
      nullCounts: Seq[(Int, Long)] = Nil,
      lower: Seq[(Int, Array[Byte])] = Nil,
      upper: Seq[(Int, Array[Byte])] = Nil,
      content: Int = 0,
      equalityIds: Seq[Int] = Nil): GenericData.Record = {
    val part = new GenericData.Record(dataFileSchema.getField("partition").schema())
    partValues.foreach { case (k, v) => part.put(k, v) }
    val df = new GenericData.Record(dataFileSchema)
    df.put("content", content)
    df.put("file_path", path)
    df.put("file_format", "PARQUET")
    df.put("partition", part)
    df.put("record_count", rows)
    df.put("file_size_in_bytes", size)
    if (equalityIds.nonEmpty)
      df.put("equality_ids", equalityIds.map(java.lang.Integer.valueOf).asJava)
    def put(field: String, kvs: Seq[(Int, Any)]): Unit =
      if (kvs.nonEmpty) df.put(field, kvArray(dataFileSchema.getField(field).schema(), kvs))
    put("value_counts", valueCounts)
    put("null_value_counts", nullCounts)
    put("lower_bounds", lower.map { case (k, v) => k -> ByteBuffer.wrap(v) })
    put("upper_bounds", upper.map { case (k, v) => k -> ByteBuffer.wrap(v) })
    df
  }

  /** A manifest entry: `status` 1 ADDED or 0 EXISTING, the snapshot
    * that added the file and its data sequence number. */
  private def entry(
      entrySchema: Schema, status: Int, snapshotId: Long, seq: Long,
      file: GenericRecord): GenericRecord = {
    val e = new GenericData.Record(entrySchema)
    e.put("status", status)
    e.put("snapshot_id", snapshotId)
    e.put("sequence_number", seq)
    e.put("file_sequence_number", seq)
    e.put("data_file", file)
    e
  }

  /** The ADDED entry of a new data file at `location/rel`, from its
    * footer stats ([[bounds]], possibly read on an executor). Every row
    * of a file is a value of each column, so the value counts are the
    * row count. */
  private def addedEntry(
      entrySchema: Schema, snapshotId: Long, seq: Long,
      location: String, rel: String, partValues: Seq[(String, Any)],
      rows: Long, size: Long,
      stats: Seq[(Int, Long, Array[Byte], Array[Byte])]): GenericRecord =
    entry(entrySchema, 1, snapshotId, seq,
      dataFileRecord(entrySchema.getField("data_file").schema(),
        s"$location/$rel", partValues, rows, size,
        valueCounts = stats.map(s => s._1 -> rows),
        nullCounts = stats.map(s => s._1 -> s._2),
        lower = stats.map(s => s._1 -> s._3),
        upper = stats.map(s => s._1 -> s._4)))

  private def snapshotIdOf(uuid: java.util.UUID): Long =
    uuid.getMostSignificantBits & Long.MaxValue

  private def nameUuid(s: String): java.util.UUID =
    java.util.UUID.nameUUIDFromBytes(s.getBytes(StandardCharsets.UTF_8))

  /** An ordered JSON object for the metadata. */
  private def obj(kvs: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** A schema entry of the metadata's `schemas`. */
  private def schemaObj(fields: Seq[(String, Int, String)], schemaId: Int): Map[String, Any] =
    Map[String, Any]("type" -> "struct", "schema-id" -> schemaId,
      "fields" -> fields.map { case (n, id, t) => Map[String, Any](
        "id" -> id, "name" -> n, "required" -> false, "type" -> t) })

  /** A metadata JSON being edited into its next version. The
    * scala-module mapper reads JSON arrays as Scala Seqs and objects
    * as Scala or Java maps; [[append]] and [[retain]] rebuild a list
    * in order. */
  private final class MetaEdit(val map: java.util.LinkedHashMap[String, Object]) {
    def put(key: String, v: Any): Unit = map.put(key, v.asInstanceOf[AnyRef])
    def get(key: String): Option[Object] = Option(map.get(key))
    private def list(key: String): Seq[Object] = get(key) match {
      case Some(s: Seq[_]) => s.asInstanceOf[Seq[Object]]
      case Some(l: java.util.List[_]) => l.asScala.toSeq.asInstanceOf[Seq[Object]]
      case None => Seq.empty[Object]
      case Some(other) => throw new IllegalArgumentException(
        s"metadata '$key' is not a list: ${other.getClass}")
    }
    def append(key: String, item: Any): Unit = put(key, list(key) :+ item)
    def retain(key: String)(keep: Object => Boolean): Unit =
      if (map.containsKey(key)) put(key, list(key).filter(keep))
  }

  /** One new snapshot: its manifest (`entries` under `entrySchema`,
    * written under partition spec `specId`/`specJson` as a data or a
    * delete manifest), the prior manifest-list records its list
    * carries, and what the metadata records of it. `mtime` is the
    * newest file it adds (0 when none); its timestamp is the later of
    * that and the head's `last-updated-ms`, never the wall clock. */
  private final case class NewSnapshot(
      uuid: java.util.UUID,
      seq: Long,
      entrySchema: Schema,
      entries: Seq[GenericRecord],
      deletes: Boolean,
      specId: Int,
      specJson: String,
      schemaJson: String,
      schemaId: Int,
      carried: Seq[GenericRecord],
      mtime: Long,
      summary: Seq[(String, String)]) {
    def id: Long = snapshotIdOf(uuid)
  }

  /** The manifest-list record of a snapshot's new manifest, counted
    * from its entries. */
  private def manifestRecord(path: String, length: Long, s: NewSnapshot): GenericRecord = {
    def rows(e: GenericRecord): Long =
      e.get("data_file").asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]
    val (added, existing) = s.entries.partition(_.get("status").asInstanceOf[Int] == 1)
    val mf = new GenericData.Record(manifestFileSchema)
    mf.put("manifest_path", path)
    mf.put("manifest_length", length)
    mf.put("partition_spec_id", s.specId)
    mf.put("content", if (s.deletes) 1 else 0)
    mf.put("sequence_number", s.seq)
    mf.put("min_sequence_number",
      (s.seq +: s.entries.map(_.get("sequence_number").asInstanceOf[Long])).min)
    mf.put("added_snapshot_id", s.id)
    mf.put("added_files_count", added.size)
    mf.put("existing_files_count", existing.size)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", added.map(rows).sum)
    mf.put("existing_rows_count", existing.map(rows).sum)
    mf.put("deleted_rows_count", 0L)
    mf
  }

  /** The one commit of the bridge, from `head` (version N) to version
    * N+1. For a snapshot it writes, in order, the manifest, the
    * manifest-list (the carried records copied, then the new
    * manifest's), and then, as for a metadata-only publish, the
    * metadata JSON: the head's, with the snapshot appended to
    * `snapshots` and `snapshot-log`, and the head's file (if it was
    * written) to `metadata-log`, then `edit` applied. The head's
    * current snapshot, if any, is the new snapshot's parent.
    * `v(N+1).metadata.json` comes next and `version-hint.text` last:
    * the hint is the commit point, so a crash before it leaves the
    * table at N.
    */
  private def commit(fs: FileSystem, root: Path, head: Head, snap: Option[NewSnapshot])(
      edit: MetaEdit => Unit = _ => ()): Unit = {
    val metaDir = new Path(root, MetaDirName)
    val location = head.location.stripSuffix("/")
    val meta = new MetaEdit(
      mapper.convertValue(head.node, classOf[java.util.LinkedHashMap[String, Object]]))
    snap.foreach { s =>
      val manifest = new Path(metaDir, s"${s.uuid}-m0.avro")
      val length = writeAvro(fs, manifest, s.entrySchema,
        Seq(
          "schema" -> s.schemaJson,
          "partition-spec" -> s.specJson,
          "partition-spec-id" -> s.specId.toString,
          "format-version" -> "2",
          "content" -> (if (s.deletes) "deletes" else "data")),
        s.entries)
      val parent = Some(head.currentSnapshotId).filter(_ >= 0)
      val list = new Path(metaDir, s"snap-${s.id}-1-${s.uuid}.avro")
      val carried = s.carried.map { r =>
        val c = new GenericData.Record(manifestFileSchema)
        manifestFileSchema.getFields.forEach(f => c.put(f.name(), r.get(f.name())))
        c: GenericRecord
      }
      writeAvro(fs, list, manifestFileSchema,
        Seq("snapshot-id" -> s.id.toString,
          "parent-snapshot-id" -> parent.map(_.toString).getOrElse("null"),
          "sequence-number" -> s.seq.toString,
          "format-version" -> "2"),
        carried :+ manifestRecord(s"$location/$MetaDirName/${manifest.getName}", length, s))

      val prevMs = head.node.get("last-updated-ms").asLong()
      val ts = math.max(s.mtime, prevMs)
      meta.put("last-sequence-number", s.seq)
      meta.put("last-updated-ms", ts)
      meta.put("current-snapshot-id", s.id)
      val snapshot = obj("snapshot-id" -> s.id)
      parent.foreach(p => snapshot.put("parent-snapshot-id", p))
      snapshot.put("timestamp-ms", ts)
      snapshot.put("sequence-number", s.seq)
      snapshot.put("summary", obj(s.summary: _*))
      snapshot.put("manifest-list", s"$location/$MetaDirName/${list.getName}")
      snapshot.put("schema-id", s.schemaId)
      meta.append("snapshots", snapshot)
      meta.append("snapshot-log", obj("snapshot-id" -> s.id, "timestamp-ms" -> ts))
      head.file.foreach(f => meta.append("metadata-log", obj(
        "metadata-file" -> s"$location/$MetaDirName/${f.getName}",
        "timestamp-ms" -> prevMs)))
    }
    edit(meta)

    val next = head.version + 1
    val metaOut = fs.create(new Path(metaDir, s"v$next.metadata.json"), true)
    try metaOut.write(mapper.writeValueAsBytes(meta.map)) finally metaOut.close()
    val hintOut = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hintOut.write(next.toString.getBytes(StandardCharsets.UTF_8)) finally hintOut.close()
  }

  /** Write Iceberg v2 table metadata describing the parquet tree under
    * `dir`: one manifest, one manifest-list, `v1.metadata.json` and
    * `version-hint.text` (the HadoopCatalog convention) under
    * `dir/metadata/`, as the [[commit]] from an empty version 0.
    * Partition columns come from hive `k=v` path segments (identity
    * transforms); per-file stats (record count, numeric bounds,
    * null/value counts keyed by field-id) come from one footer read per
    * file. Returns the number of data files described.
    */
  def writeTable(
      spark: SparkSession,
      dir: String,
      tableId: String,
      conf: Configuration = null,
      spec: Seq[SpecCol] = Nil): Int = {
    val (hc, root, fs) = fsOf(spark, dir, conf)
    val location = fs.makeQualified(root).toString.stripSuffix("/")
    val sorted = FileMeta.dataFiles(fs, root, MetaDirName)
    val partCols = FileMeta.partitionKeys(sorted.map(_._1))
    if (spec.nonEmpty) {
      require(spec.map(_.name) == partCols,
        s"spec fields ${spec.map(_.name)} do not match the tree's hive keys $partCols")
      spec.foreach(c => require(canonTransform(c.transform) != "identity",
        s"spec field ${c.name}: identity transforms use the default (no-spec) path"))
    }

    // table schema: data columns (ids 1..n); the default (identity)
    // path also appends the partition columns (string, ids n+1..) —
    // Iceberg partition sources are ordinary table columns the spec
    // references by id. In transform mode the sources already ARE
    // data columns and the spec fields are derived, not columns.
    val dataSchema = spark.read.parquet(
      new Path(root, sorted.head._1).toString).schema
    dataSchema.foreach(f => icebergType(f.dataType, s"column ${f.name}"))
    // a physical parquet column sharing a hive partition column's name
    // would collapse the name->id map into two fields with one id — an
    // invalid Iceberg schema strict readers reject or misbind
    val clash = dataSchema.map(_.name).toSet.intersect(partCols.toSet)
    require(clash.isEmpty,
      s"IcebergBridge: column(s) ${clash.mkString(", ")} appear both in the " +
        "parquet data and as hive partition directories — refusing rather " +
        "than emitting duplicate field ids")
    val schemaColNames: Seq[String] =
      if (spec.isEmpty) dataSchema.map(_.name).toSeq ++ partCols
      else dataSchema.map(_.name).toSeq
    val fieldIds: Map[String, Int] =
      schemaColNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    spec.foreach(c => require(fieldIds.contains(c.source),
      s"spec field ${c.name}: source column '${c.source}' is not a data column"))
    val schemaFields: Seq[Map[String, Any]] =
      dataSchema.map(f => Map[String, Any](
        "id" -> fieldIds(f.name), "name" -> f.name,
        "required" -> false, "type" -> icebergType(f.dataType, f.name))) ++
      (if (spec.isEmpty) partCols.map(c => Map[String, Any](
        "id" -> fieldIds(c), "name" -> c, "required" -> false, "type" -> "string"))
       else Nil)
    // (name, transform, source-id) for the partition spec, either
    // derived identity columns or the caller's transform spec
    val effSpec: Seq[(String, String, Int)] =
      if (spec.isEmpty) partCols.map(c => (c, "identity", fieldIds(c)))
      else spec.map(c => (c.name, c.transform, fieldIds(c.source)))
    val partTypes: Seq[(String, String)] =
      effSpec.map { case (n, t, _) => n -> transformAvroType(t, n) }

    val uuid = nameUuid("iceberg:" + tableId)
    val maxMtime = sorted.map(_._3).max
    fs.mkdirs(new Path(root, MetaDirName))

    // one ADDED entry per data file: footer reads thread-pooled or as
    // ONE Spark job over executors, shaped to the file count
    // (FileMeta.describeFiles); Avro assembly stays on the driver over
    // the serializable (rows, stats) pairs
    val entrySchema = manifestEntrySchema(partTypes)
    val descr = FileMeta.describeFiles(spark, hc, sorted) { case ((rel, size, _), c) =>
      val stats = FileMeta.stats(new Path(root, rel), c)
      (rel, size, stats.rows, bounds(stats, fieldIds))
    }
    val entries = descr.map { case (rel, size, rows, stats) =>
      val pvTyped = FileMeta.hiveParts(rel).map { case (k, v) =>
        k -> transformedValue(effSpec.find(_._1 == k).get._2, v, rel)
      }
      addedEntry(entrySchema, snapshotIdOf(uuid), 1L, location, rel, pvTyped, rows, size, stats)
    }
    val specFieldsJson = effSpec.zipWithIndex.map { case ((c, t, srcId), i) =>
      Map[String, Any]("name" -> c, "transform" -> t,
        "source-id" -> srcId, "field-id" -> (1000 + i))
    }
    val schemaJson = mapper.writeValueAsString(Map[String, Any](
      "type" -> "struct", "schema-id" -> 0, "fields" -> schemaFields))
    val empty = mutable.LinkedHashMap[String, Any](
      "format-version" -> 2,
      "table-uuid" -> uuid.toString,
      "location" -> location,
      "last-sequence-number" -> 0,
      "last-updated-ms" -> maxMtime,
      "last-column-id" -> fieldIds.size,
      "current-schema-id" -> 0,
      "schemas" -> Seq(mapper.readValue(schemaJson, classOf[Object])),
      "default-spec-id" -> 0,
      "partition-specs" -> Seq(Map[String, Any](
        "spec-id" -> 0, "fields" -> specFieldsJson)),
      "last-partition-id" -> (999 + effSpec.size),
      "default-sort-order-id" -> 0,
      "sort-orders" -> Seq(Map[String, Any](
        "order-id" -> 0, "fields" -> Seq.empty[Object])),
      "properties" -> Map("schema.name-mapping.default" ->
        nameMappingJson(schemaColNames.map(n => n -> fieldIds(n)))),
      "current-snapshot-id" -> -1,
      "snapshots" -> Seq.empty[Object],
      "snapshot-log" -> Seq.empty[Object],
      "metadata-log" -> Seq.empty[Object])
    commit(fs, root, Head(mapper.valueToTree[JsonNode](empty), None, 0L),
      Some(NewSnapshot(uuid, 1L, entrySchema, entries, deletes = false,
        specId = 0, mapper.writeValueAsString(specFieldsJson), schemaJson, schemaId = 0,
        carried = Nil, maxMtime, Seq(
          "operation" -> "append",
          "added-data-files" -> sorted.size.toString,
          "added-records" -> descr.map(_._3).sum.toString))))()
    sorted.size
  }

  /** Publish one incremental snapshot on an existing bridge-written
    * table: `newFiles` (root-relative, already physically under `dir`)
    * become ADDED entries with footer stats, `removedFiles` drop out,
    * and everything else carries forward as EXISTING entries keeping
    * the sequence number of the snapshot that added them (the v2
    * inheritance rule). One NEW manifest holds the ENTIRE live set —
    * the single-manifest-per-snapshot shape a compacting writer uses,
    * legal per spec and the simplest state a reader can plan from —
    * so a snapshot's manifest-list always names exactly one manifest.
    * Bytes of removed files STAY on disk: older snapshots in the
    * metadata keep reading them (Iceberg's own time-travel contract).
    * Writes v(N+1).metadata.json + version-hint and returns the new
    * snapshot id. The daily-sync shape at 100 TB: the commit moves
    * one manifest + one metadata json, never the table.
    */
  def appendSnapshot(
      spark: SparkSession,
      dir: String,
      newFiles: Seq[String],
      removedFiles: Seq[String],
      conf: Configuration = null,
      newDataSchema: Option[StructType] = None): Long =
    appendSnapshotImpl(spark, open(spark, dir, conf), newFiles, removedFiles,
      newDataSchema, dropDeletes = false)

  private def requireV2(head: Head, what: String): Unit = {
    val fv = head.node.get("format-version").asInt()
    require(fv == 2, s"$what needs a v2 table, got format-version $fv")
  }

  /** [[appendSnapshot]] body over the caller's replay `t`;
    * `dropDeletes` is true ONLY from [[compactDeletes]], whose
    * rewritten files already reflect every delete — publishing the
    * data-only manifest is then safe.
    */
  private def appendSnapshotImpl(
      spark: SparkSession,
      t: Table,
      newFiles: Seq[String],
      removedFiles: Seq[String],
      newDataSchema: Option[StructType],
      dropDeletes: Boolean): Long = {
    val Table(fs, hc, root, head, prevState) = t
    val node = head.node
    requireV2(head, "appendSnapshot")
    // the sync writer's floor is identity-partitioned bridge tables
    // (the shape writeTable's default path and the store export lay
    // down); transform-partitioned foreign tables are read-only here
    require(prevState.specFields.forall(f => canonTransform(f.transform) == "identity"),
      "appendSnapshot: table uses non-identity partition transforms — " +
        "the bridge reads them but only syncs identity-partitioned exports")
    // the sync writer publishes ONE full data manifest; it cannot
    // carry delete manifests, and dropping them would resurrect rows
    require(dropDeletes || prevState.deleteFiles.isEmpty,
      "appendSnapshot: table carries row-level delete files — run " +
        "compactDeletes (rewrites the affected data files with the " +
        "deletes applied) before syncing")
    val partCols = prevState.partCols
    val location = head.location.stripSuffix("/")

    val relOf = FileMeta.relativeTo(location) _
    val removedSet = removedFiles.map(relOf).toSet
    val carried = prevState.files.filterNot(f => removedSet(relOf(f.path)))
    val carriedRel = carried.map(f => relOf(f.path)).toSet
    val freshNew = newFiles.map(relOf).filterNot(carriedRel)
    require((removedSet -- prevState.files.map(f => relOf(f.path)).toSet).isEmpty,
      s"appendSnapshot: removing files not in the current snapshot: " +
        s"${(removedSet -- prevState.files.map(f => relOf(f.path)).toSet).take(3)}")

    val newSeq = head.seq + 1
    val uuid = nameUuid(s"iceberg-snap:${jStr(node, "table-uuid")}:$newSeq")
    val snapshotId = snapshotIdOf(uuid)

    // field ids from the current schema (stats keys)
    val curSchemaId = node.get("current-schema-id").asInt()
    val schemaNode = node.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).get
    val curFields: Seq[(String, Int, String)] =
      schemaNode.get("fields").elements().asScala
        .map(f => (jStr(f, "name"), f.get("id").asInt(),
          f.get("type").asText())).toSeq

    // schema EVOLUTION: when the caller hands a new data schema that
    // differs from the table's by ADDED columns only, publish a new
    // schema entry (fresh ids past last-column-id) and pin this
    // snapshot to it — old snapshots keep their schema-id, so pinned
    // readers still see their epoch (Iceberg's own evolution
    // contract). Type changes and drops REFUSE: the verbatim-copied
    // parquet can't satisfy a widened read and a dropped column needs
    // delete semantics this writer doesn't produce.
    val partSet = partCols.toSet
    val evolved: Option[(Seq[(String, Int, String)], Int, Int)] =
      newDataSchema.flatMap { st =>
        val curByName = curFields.map(f => f._1 -> f).toMap
        var lastColId = node.get("last-column-id").asInt()
        val dataFields = st.fields.toSeq.filterNot(f => partSet(f.name)).map { f =>
          val t = icebergType(f.dataType, s"column ${f.name}")
          curByName.get(f.name) match {
            case Some((_, id, t0)) =>
              require(t0 == t,
                s"appendSnapshot: column ${f.name} changed type $t0 -> $t — " +
                  "only column ADDS sync across schema evolution; re-export")
              (f.name, id, t)
            case None =>
              lastColId += 1
              (f.name, lastColId, t)
          }
        }
        val allFields = dataFields ++
          partCols.map(c => curByName.getOrElse(c, throw new IllegalArgumentException(
            s"appendSnapshot: partition column $c missing from the current schema")))
        val dropped = curFields.map(_._1).filterNot(n => allFields.exists(_._1 == n))
        require(dropped.isEmpty,
          s"appendSnapshot: column(s) ${dropped.mkString(", ")} dropped — " +
            "only column ADDS sync across schema evolution; re-export")
        if (allFields == curFields) None
        else {
          val newSchemaId = node.get("schemas").elements().asScala
            .map(_.get("schema-id").asInt()).max + 1
          Some((allFields, newSchemaId, lastColId))
        }
      }
    val effFields = evolved.map(_._1).getOrElse(curFields)
    val fieldIds: Map[String, Int] = effFields.map(f => f._1 -> f._2).toMap

    freshNew.foreach(rel => require(FileMeta.hiveParts(rel).map(_._1) == partCols,
      s"appendSnapshot: $rel does not match partition columns $partCols"))

    val entrySchema = manifestEntrySchema(partCols.map(_ -> "\"string\""))
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val descrNew = FileMeta.describeFiles(spark, hc, freshNew) { (rel, c) =>
      val p = new Path(root, rel)
      val fsl = p.getFileSystem(c)
      require(fsl.exists(p), s"appendSnapshot: new file $rel not under $root")
      val st = fsl.getFileStatus(p)
      val stats = FileMeta.stats(p, c)
      (rel, st.getLen, st.getModificationTime, stats.rows, bounds(stats, fieldIds))
    }
    val newEntries = descrNew.map { case (rel, size, _, rows, stats) =>
      addedEntry(entrySchema, snapshotId, newSeq, location, rel,
        FileMeta.hiveParts(rel), rows, size, stats)
    }
    // carried files keep their skipping bounds — a sync must not erode
    // the zone map (value/null counts are not carried: only bounds
    // feed file skipping, and a missing count costs nothing). Their
    // snapshot_id is the snapshot that ADDED them (spec), not this
    // one: misattributing carried files to the sync snapshot corrupts
    // incremental/changelog consumers.
    val carriedEntries = carried.map { f =>
      entry(entrySchema, 0, // EXISTING — keeps its original data sequence
        if (f.addedSnapshotId >= 0) f.addedSnapshotId else snapshotId, f.sequenceNumber,
        dataFileRecord(dataFileSchema, f.path, f.partitionValues.toSeq,
          f.recordCount, f.sizeBytes,
          lower = f.lowerBounds.toSeq.sortBy(_._1), upper = f.upperBounds.toSeq.sortBy(_._1)))
    }
    val entries = (newEntries ++ carriedEntries).sortBy(
      _.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)

    val schemaJson = mapper.writeValueAsString(evolved match {
      case Some((fields, sid, _)) => schemaObj(fields, sid)
      case None => mapper.treeToValue(schemaNode, classOf[Object])
    })
    val specFieldsJson = partCols.zipWithIndex.map { case (c, i) =>
      Map[String, Any]("name" -> c, "transform" -> "identity",
        "source-id" -> fieldIds(c), "field-id" -> (1000 + i))
    }
    val snap = NewSnapshot(uuid, newSeq, entrySchema, entries, deletes = false,
      specId = 0, mapper.writeValueAsString(specFieldsJson), schemaJson,
      evolved.map(_._2).getOrElse(curSchemaId), carried = Nil,
      (descrNew.map(_._3) :+ 0L).max,
      Seq(
        "operation" -> (if (removedSet.nonEmpty) "overwrite" else "append"),
        "added-data-files" -> newEntries.size.toString,
        "deleted-data-files" -> removedSet.size.toString,
        "added-records" -> descrNew.map(_._4).sum.toString))
    commit(fs, root, head, Some(snap)) { m =>
      evolved.foreach { case (fields, sid, lastColId) =>
        m.append("schemas", schemaObj(fields, sid))
        m.put("current-schema-id", sid)
        m.put("last-column-id", lastColId)
        // keep field-id-less data files resolvable by external readers
        // across the evolution
        val prevProps: Map[String, String] = m.get("properties") match {
          case Some(p: java.util.Map[_, _]) =>
            p.asScala.map { case (k, v) => k.toString -> String.valueOf(v) }.toMap
          case Some(p: scala.collection.Map[_, _]) =>
            p.map { case (k, v) => k.toString -> String.valueOf(v) }.toMap
          case _ => Map.empty
        }
        m.put("properties", prevProps + ("schema.name-mapping.default" ->
          nameMappingJson(fields.map(f => f._1 -> f._2))))
      }
    }
    snapshotId
  }

  /** Publish one MERGE-ON-READ snapshot of POSITION deletes on a
    * bridge-written table: `deletes` are (root-relative data file,
    * 0-based row ordinal) pairs. One sorted position-delete parquet is
    * written (spec order: file_path, then pos), one DELETE manifest
    * names it, and the new manifest-list carries the prior snapshot's
    * manifests UNCHANGED plus the delete manifest — the commit touches
    * zero data bytes, the merge-on-read shape that makes row deletes
    * O(deleted rows) at 100 TB instead of O(rewritten files). Readers
    * (this bridge's [[read]] and real Iceberg engines) drop the
    * positions at scan time. Returns the new snapshot id.
    */
  def appendPositionDeletes(
      spark: SparkSession,
      dir: String,
      deletes: Seq[(String, Long)],
      conf: Configuration = null): Long = {
    require(deletes.nonEmpty, "appendPositionDeletes: no positions given")
    val t = open(spark, dir, conf)
    val loc = t.head.location.stripSuffix("/")
    val relOf = FileMeta.relativeTo(loc) _
    val liveRel = t.state.files.map(f => relOf(f.path)).toSet
    deletes.foreach { case (rel, pos) =>
      require(liveRel(rel),
        s"appendPositionDeletes: $rel is not a live data file of the current snapshot")
      require(pos >= 0, s"appendPositionDeletes: negative position $pos for $rel")
    }
    // position-delete columns carry the spec's RESERVED field ids
    // (2147483546 / 2147483545) as parquet field-id metadata — real
    // engines resolve delete-file columns by id, and the table's
    // name-mapping does not cover them
    def fid(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val delSchema = StructType(Seq(
      StructField("file_path", StringType, nullable = false, fid(2147483546L)),
      StructField("pos", LongType, nullable = false, fid(2147483545L))))
    val delRows = deletes.map { case (rel, pos) => (s"$loc/$rel", pos) }
      .sorted.map { case (p, pos) => Row(p, pos) }
    val delDf = spark.createDataFrame(
      spark.sparkContext.parallelize(delRows, 1), delSchema)
    commitDeletes(t, delDf, deletes.size.toLong,
      content = 1, equalityIds = Nil,
      summaryExtra = Seq("added-position-deletes" -> deletes.size.toString))
  }

  /** Publish one MERGE-ON-READ snapshot of EQUALITY deletes (the CDC
    * delete shape Flink writers produce): every data row whose
    * `eqCols` null-safe-equal some row of `values` dies for readers —
    * matching only data files with sequence STRICTLY below this
    * snapshot's, per spec. Commits one delete parquet + one DELETE
    * manifest, zero data bytes moved. Returns the new snapshot id.
    */
  def appendEqualityDeletes(
      spark: SparkSession,
      dir: String,
      values: DataFrame,
      eqCols: Seq[String],
      conf: Configuration = null): Long = {
    require(eqCols.nonEmpty, "appendEqualityDeletes: no equality columns given")
    val t = open(spark, dir, conf)
    val idByName = t.state.fieldNamesById.map(_.swap)
    val eqIds = eqCols.map(c => idByName.getOrElse(c,
      throw new IllegalArgumentException(
        s"appendEqualityDeletes: '$c' is not a table column")))
    require(eqCols.forall(c => !t.state.partCols.contains(c)),
      "appendEqualityDeletes: equality columns must be scanned data " +
        "columns, not metadata-filled identity partition columns")
    // equality-delete columns carry the TABLE's field ids as parquet
    // field-id metadata (real engines resolve them by id; the table's
    // name-mapping does not cover delete files)
    val delDf = values.select(eqCols.zip(eqIds).map { case (c, id) =>
      col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id.toLong).build())
    }: _*).coalesce(1).sortWithinPartitions(eqCols.map(col): _*)
    val rows = delDf.count()
    require(rows > 0, "appendEqualityDeletes: no delete rows given")
    commitDeletes(t, delDf, rows,
      content = 2, equalityIds = eqIds,
      summaryExtra = Seq("added-equality-deletes" -> rows.toString))
  }

  /** COMPACT row-level deletes into the data: rewrite every data file
    * a delete file could touch with the deletes APPLIED (one Spark job
    * through the same read path the scan uses), publish one data-only
    * snapshot — rewritten files added, originals removed, delete
    * manifests dropped, which is safe ONLY because the new bytes
    * already reflect them — and return the new snapshot id. This is
    * the merge-on-read maintenance trade: deletes accumulate
    * read-side anti-join cost; compaction pays it down by moving
    * bytes proportional to the AFFECTED files once (never the table).
    * Older snapshots keep reading the original files + delete files
    * (time travel; nothing is physically deleted). After compaction
    * [[appendSnapshot]]/sync work again — the managed-CDC-table flow.
    *
    * Affected-file rules mirror the scan: a position delete touches
    * exactly the files its rows name (sequence-gated); an equality
    * delete marks every sequence- and partition-scope-covered file
    * affected WITHOUT scanning for key matches — correct, possibly
    * rewriting a file that held no matching key. No-op (current
    * snapshot id) when the table carries no delete files.
    */
  def compactDeletes(
      spark: SparkSession,
      dir: String,
      conf: Configuration = null): Long = {
    val t = open(spark, dir, conf)
    val Table(fs, _, root, head, state) = t
    if (state.deleteFiles.isEmpty) return head.currentSnapshotId
    require(state.specFields.forall(f => canonTransform(f.transform) == "identity"),
      "compactDeletes: identity-partitioned bridge tables only")
    val loc = state.location.stripSuffix("/")
    val relOf = FileMeta.relativeTo(loc) _
    val posDeletes = state.deleteFiles.filter(_.equalityIds.isEmpty)
    val eqDeletes = state.deleteFiles.filter(_.equalityIds.nonEmpty)
    // position-delete targets: rel path -> max delete sequence naming it
    val posTargets: Map[String, Long] =
      if (posDeletes.isEmpty) Map.empty
      else {
        val delSchema = StructType(Seq(
          StructField("file_path", StringType), StructField("pos", LongType)))
        posDeletes.flatMap { d =>
          spark.read.schema(delSchema)
            .parquet(resolve(root, state.location, d.path).toString)
            .select("file_path").distinct().collect()
            .map(r => relOf(r.getString(0)) -> d.sequenceNumber)
        }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).max }
      }
    val affected = state.files.filter { f =>
      val byPos = posTargets.get(relOf(f.path)).exists(_ >= f.sequenceNumber)
      val byEq = eqDeletes.exists(d => d.sequenceNumber > f.sequenceNumber &&
        (d.partitionTuple match {
          case None => true
          case Some(values) =>
            d.specId == f.specId &&
              partKeyOf(d.specId, values) == dataPartKey(state, f)
        }))
      byPos || byEq
    }
    val affectedRel = affected.map(f => relOf(f.path)).toSet
    val newRels = mutable.ArrayBuffer.empty[String]
    if (affected.nonEmpty) {
      // ONE job: the affected files through the normal read path (all
      // deletes applied, partition columns filled), written back in
      // the same hive layout the manifests derive values from
      val survivors = scan(spark, t, f => affectedRel(relOf(f.path)))
      val staging = new Path(root, ".compact_tmp")
      fs.delete(staging, true)
      val w = survivors.write.mode("overwrite")
      (if (state.partCols.nonEmpty) w.partitionBy(state.partCols: _*) else w)
        .parquet(staging.toString)
      val stack = mutable.Stack[(Path, String)]((staging, ""))
      while (stack.nonEmpty) {
        val (p, rel) = stack.pop()
        fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
          val name = st.getPath.getName
          if (st.isDirectory) {
            if (!name.startsWith("_") && !name.startsWith("."))
              stack.push((st.getPath, if (rel.isEmpty) name else s"$rel/$name"))
          } else if (name.startsWith("part-") && name.endsWith(".parquet")) {
            val tgtRel = (if (rel.isEmpty) "" else rel + "/") +
              s"compact-${head.version}-${newRels.size}.parquet"
            val tgt = new Path(root, tgtRel)
            fs.mkdirs(tgt.getParent)
            require(!fs.exists(tgt), s"compactDeletes: $tgtRel already exists")
            require(fs.rename(st.getPath, tgt), s"compactDeletes: rename to $tgtRel failed")
            newRels += tgtRel
          }
        }
      }
      fs.delete(staging, true)
    }
    appendSnapshotImpl(spark, t, newRels.toSeq, affectedRel.toSeq,
      newDataSchema = None, dropDeletes = true)
  }

  /** The delete snapshot both delete kinds share: the delete parquet
    * written as one file, then one [[commit]] of a DELETE manifest
    * naming it (entry content 1 = position / 2 = equality with its
    * equality_ids), with the current snapshot's manifests carried
    * verbatim in the new manifest-list (real writers reuse manifest
    * files across snapshots exactly like this).
    */
  private def commitDeletes(
      t: Table,
      delDf: DataFrame,
      rowCount: Long,
      content: Int,
      equalityIds: Seq[Int],
      summaryExtra: Seq[(String, String)]): Long = {
    val Table(fs, _, root, head, state) = t
    val node = head.node
    requireV2(head, "a row-level delete snapshot")
    require(state.specFields.forall(f => canonTransform(f.transform) == "identity"),
      "delete snapshots: identity-partitioned bridge tables only")
    require(state.listPath.isDefined, "row-level deletes: table has no current snapshot")
    val loc = head.location.stripSuffix("/")
    val newSeq = head.seq + 1
    val uuid = nameUuid(s"iceberg-del:${jStr(node, "table-uuid")}:$newSeq")

    // the delete parquet (caller pre-sorted per spec), moved into place
    val delRel = s"deletes/del-$newSeq.parquet"
    val dst = new Path(root, delRel)
    FileMeta.writeOneParquet(delDf, fs, new Path(root, s".del_tmp_$newSeq"), dst)
    val written = fs.getFileStatus(dst)

    // DELETE manifest: one ADDED entry under an UNPARTITIONED spec —
    // the spec's ONLY way to express global scope. A delete file under
    // a partitioned spec applies exclusively to data files whose
    // partition equals its own, so the pre-r19 shape (all-null tuple
    // under partitioned spec 0) made real engines apply these deletes
    // to NOTHING and deleted rows resurrect. The unpartitioned spec is
    // reused when the table already has one, else added to
    // partition-specs (default-spec-id unchanged).
    val curSchemaId = node.get("current-schema-id").asInt()
    val schemaNode = node.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == curSchemaId).get
    val specsNode = node.get("partition-specs")
    require(specsNode != null,
      "commitDeletes: v2 table without partition-specs — refusing")
    val existingSpecs = specsNode.elements().asScala.toSeq
    val unpartSpecId: Int = existingSpecs
      .find(sp => !sp.get("fields").elements().hasNext)
      .map(_.get("spec-id").asInt())
      .getOrElse(existingSpecs.map(_.get("spec-id").asInt()).max + 1)
    val needNewSpec = !existingSpecs.exists(_.get("spec-id").asInt() == unpartSpecId)
    val entrySchema = manifestEntrySchema(Seq.empty)
    val delEntry = entry(entrySchema, 1, snapshotIdOf(uuid), newSeq,
      dataFileRecord(entrySchema.getField("data_file").schema(), s"$loc/$delRel", Nil,
        rowCount, written.getLen, content = content, equalityIds = equalityIds))
    val snap = NewSnapshot(uuid, newSeq, entrySchema, Seq(delEntry), deletes = true,
      unpartSpecId, "[]",
      mapper.writeValueAsString(mapper.treeToValue(schemaNode, classOf[Object])),
      curSchemaId, state.manifests, written.getModificationTime,
      Seq("operation" -> "delete", "added-delete-files" -> "1") ++ summaryExtra)
    commit(fs, root, head, Some(snap)) { m =>
      if (needNewSpec)
        m.append("partition-specs", Map[String, Any](
          "spec-id" -> unpartSpecId, "fields" -> Seq.empty[Any]))
    }
    snap.id
  }

  // ---------------------------------------------------------------
  // Read path
  // ---------------------------------------------------------------

  private def readAvro(fs: FileSystem, p: Path): Seq[GenericRecord] = {
    val len = fs.getFileStatus(p).getLen
    require(len < 256L * 1024 * 1024, s"$p: manifest over 256 MB — not metadata-sized")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val rd = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try rd.iterator().asScala.toVector finally rd.close()
  }

  /** Resolve a path recorded in the metadata: Iceberg stores absolute
    * locations, so a RELOCATED tree's recorded prefixes no longer
    * exist — strip the recorded table `location` and re-root under the
    * actual `root` (the reason the bridge never trusts recorded
    * absolute paths blindly). Paths outside the recorded location pass
    * through as-is.
    */
  private def resolve(root: Path, location: String, p: String): Path = {
    val loc = location.stripSuffix("/")
    if (p.startsWith(loc + "/")) new Path(root, p.substring(loc.length + 1))
    else new Path(p)
  }

  private final case class DataFileEntry(
      path: String,
      partitionValues: Map[String, String],
      recordCount: Long,
      sizeBytes: Long,
      sequenceNumber: Long,
      // raw single-value-serialized bounds by field id (absent entries
      // always scan — the safe direction)
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      // the snapshot that ADDED the file (manifest_entry.snapshot_id's
      // spec meaning) — carried EXISTING entries must keep it, or
      // incremental/changelog consumers misattribute old files to the
      // sync snapshot; -1 = unknown (pre-fix manifests), fall back to
      // the writing snapshot
      addedSnapshotId: Long = -1L,
      // the data manifest's partition-spec id — half of the partition
      // EQUALITY key that scopes row-level deletes
      specId: Int = 0)

  /** The table head: the current `vN.metadata.json` parsed, its file
    * and N. The one metadata read of an operation; the first commit
    * starts from an unwritten version 0, a table without snapshots
    * (`current-snapshot-id` -1) and with no file. */
  private final case class Head(node: JsonNode, file: Option[Path], version: Long) {
    def location: String = jStr(node, "location")
    def seq: Long = node.get("last-sequence-number").asLong()
    def currentSnapshotId: Long =
      Option(node.get("current-snapshot-id")).map(_.asLong()).getOrElse(-1L)
  }

  /** The head of the table at `root`: version-hint first (HadoopCatalog
    * convention), else the highest `vN.metadata.json`. */
  private def readHead(fs: FileSystem, root: Path): Head = {
    val metaDir = new Path(root, MetaDirName)
    val hintPath = new Path(metaDir, "version-hint.text")
    val version =
      if (fs.exists(hintPath)) {
        val in = fs.open(hintPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      } else {
        val vRe = """v(\d+)\.metadata\.json""".r
        val versions = fs.listStatus(metaDir).toSeq.flatMap(_.getPath.getName match {
          case vRe(v) => Some(v.toLong)
          case _ => None
        })
        require(versions.nonEmpty, s"no vN.metadata.json under $metaDir")
        versions.max
      }
    val file = new Path(metaDir, s"v$version.metadata.json")
    val in = fs.open(file)
    val node = try mapper.readTree(in) finally in.close()
    Head(node, Some(file), version)
  }

  /** One operation's view of a table: its head, read once, and one
    * replay of a snapshot over it (the current one by default). */
  private final case class Table(
      fs: FileSystem, hc: Configuration, root: Path, head: Head, state: TableState)

  private def fsOf(
      spark: SparkSession, dir: String, conf: Configuration): (Configuration, Path, FileSystem) = {
    val hc = if (conf == null) spark.sessionState.newHadoopConf() else conf
    val root = new Path(dir)
    (hc, root, root.getFileSystem(hc))
  }

  private def open(
      spark: SparkSession, dir: String, conf: Configuration,
      snapshotId: Option[Long] = None): Table = {
    val (hc, root, fs) = fsOf(spark, dir, conf)
    val head = readHead(fs, root)
    Table(fs, hc, root, head, loadState(fs, root, head, snapshotId))
  }

  private final case class SpecField(name: String, transform: String, sourceId: Int)

  /** The partition EQUALITY key scoping row-level deletes: spec id +
    * the spec-ordered human-rendered values, null-safe and
    * LENGTH-PREFIXED — unambiguous for any value content (a plain
    * separator would collide: ("x|y","z") vs ("x","y|z")).
    */
  private def partKeyOf(specId: Int, values: Seq[String]): String =
    specId.toString + values.map(v =>
      if (v == null) "|N" else s"|V${v.length}:$v").mkString

  /** A data file's partition key under the DEFAULT spec's field order. */
  private def dataPartKey(state: TableState, f: DataFileEntry): String =
    partKeyOf(f.specId, state.specFields.map(sf =>
      f.partitionValues.getOrElse(sf.name, null)))

  /** A v2 row-level delete file. POSITION deletes (content=1,
    * `equalityIds` empty): parquet rows of (file_path, pos) marking
    * dead rows by ordinal in the target data file, applied to data
    * files with data sequence number <= the delete's. EQUALITY deletes
    * (content=2, `equalityIds` = field ids of the match columns):
    * parquet rows of values; a data row dies when every equality
    * column is null-safe-equal to some delete row's AND its file's
    * sequence number is STRICTLY LESS than the delete's (both rules
    * per spec — a file rewritten/added after the delete keeps its
    * rows).
    */
  private final case class DeleteFileEntry(
      path: String,
      sequenceNumber: Long,
      equalityIds: Seq[Int] = Nil,
      // the delete manifest's partition-spec id and this file's
      // HUMAN-rendered partition tuple in that spec's field order.
      // None = the spec is UNPARTITIONED, i.e. global scope. Per spec
      // a delete file applies only to data files whose partition
      // (spec id AND values) equals the delete file's, unless the
      // delete's spec is unpartitioned — the Flink CDC shape on
      // partitioned tables relies on this scoping.
      specId: Int = 0,
      partitionTuple: Option[Seq[String]] = None)

  private final case class TableState(
      schema: StructType,
      // identity partition fields' SOURCE columns — the columns the
      // read fills from manifest metadata instead of scanning
      partCols: Seq[String],
      files: Seq[DataFileEntry],
      location: String, // the RECORDED location — path resolution must
                        // strip this, not the reader's current root
      // spec-field name -> identity source column (usually equal)
      identityFill: Seq[(String, String)] = Nil,
      // non-identity transforms' source columns: must physically exist
      // in the data files (the read probes one footer and refuses
      // otherwise, never silently returning nulls)
      transformSources: Seq[String] = Nil,
      specFields: Seq[SpecField] = Nil,
      deleteFiles: Seq[DeleteFileEntry] = Nil,
      // field id -> column name of the SNAPSHOT's schema (resolves
      // equality-delete ids)
      fieldNamesById: Map[Int, String] = Map.empty,
      defaultSpecId: Int = 0,
      // the snapshot's manifest-list and its records, as read: a
      // delete commit carries them, expiry collects their paths
      listPath: Option[Path] = None,
      manifests: Seq[GenericRecord] = Nil)

  private def jStr(n: JsonNode, k: String): String = {
    val v = n.get(k)
    require(v != null, s"Iceberg metadata missing '$k'")
    v.asText()
  }

  /** The replay of snapshot `snapshotId` (default: the current one) of
    * the table whose head is `head`: its manifest-list and every
    * manifest it names, each read once. */
  private def loadState(
      fs: FileSystem, root: Path, head: Head,
      snapshotId: Option[Long] = None): TableState = {
    val node = head.node
    val fv = node.get("format-version").asInt()
    require(fv == 1 || fv == 2,
      s"Iceberg format-version $fv unsupported (bridge floor is v1/v2) — refusing")
    val location = jStr(node, "location")

    // resolve the target snapshot FIRST: each snapshot pins the
    // schema-id it was written under, and a time-travel read must see
    // THAT schema epoch, not the current one (Iceberg's own contract
    // across schema evolution)
    val curSnap = snapshotId.getOrElse(
      Option(node.get("current-snapshot-id")).map(_.asLong()).getOrElse(-1L))
    val snapOpt =
      if (curSnap == -1L) None
      else Some(node.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == curSnap)
        .getOrElse(throw new IllegalArgumentException(
          s"snapshot-id $curSnap not among snapshots" +
            (if (snapshotId.isDefined) " (time-travel target missing)" else ""))))

    // schema: the snapshot's schema-id, else current-schema-id (v1
    // fallback: the singular "schema")
    val schemaNode = Option(node.get("schemas")).map { ss =>
      val want = snapOpt
        .flatMap(s => Option(s.get("schema-id")).filterNot(_.isNull).map(_.asInt()))
        .orElse(Option(node.get("current-schema-id")).map(_.asInt()))
        .getOrElse(0)
      ss.elements().asScala.find(_.get("schema-id").asInt() == want)
        .getOrElse(throw new IllegalArgumentException(
          s"schema-id $want not in schemas"))
    }.orElse(Option(node.get("schema"))).getOrElse(
      throw new IllegalArgumentException("Iceberg metadata carries no schema"))
    val fieldsById = mutable.LinkedHashMap.empty[Int, StructField]
    schemaNode.get("fields").elements().asScala.foreach { f =>
      val name = jStr(f, "name")
      require(f.get("type").isTextual,
        s"IcebergBridge: nested type at column $name — bridge floor is primitives, refusing")
      fieldsById(f.get("id").asInt()) =
        StructField(name, sparkType(f.get("type").asText(), s"column $name"),
          nullable = !f.get("required").asBoolean(false))
    }

    // partition spec: default-spec-id; transforms within the supported
    // floor (identity, void, temporal family, bucket/truncate) parse,
    // anything else refuses. A v1 table may carry only the LEGACY
    // singular "partition-spec" (a bare fields array) — falling back
    // to "unpartitioned" there would both misread (identity source
    // columns read all-null instead of filling from partition
    // metadata) and BYPASS the transform refusal, so the legacy field
    // is parsed with the same rules.
    def parseSpec(fields: JsonNode): Seq[SpecField] =
      fields.elements().asScala.map { f =>
        val t = jStr(f, "transform")
        require(transformSupported(t),
          s"IcebergBridge: partition transform '$t' unsupported — refusing " +
            "(floor: identity, void, year/month/day/hour, bucket[N], truncate[W])")
        SpecField(jStr(f, "name"), t,
          Option(f.get("source-id")).map(_.asInt()).getOrElse(-1))
      }.toSeq
    val specFields: Seq[SpecField] = Option(node.get("partition-specs")).map { specs =>
      val cur = Option(node.get("default-spec-id")).map(_.asInt()).getOrElse(0)
      val spec = specs.elements().asScala.find(_.get("spec-id").asInt() == cur)
        .getOrElse(throw new IllegalArgumentException(s"default-spec-id $cur not in partition-specs"))
      parseSpec(spec.get("fields"))
    }.orElse(Option(node.get("partition-spec")).map(parseSpec))
      .getOrElse(Seq.empty)
    val defaultSpecId = Option(node.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    // EVERY spec by id, transforms unvalidated at parse time (a
    // historic spec with an unsupported transform must not fail reads
    // that never touch it) — validated at the point of use, which is
    // delete-file partition scoping
    val rawSpecs: Map[Int, Seq[SpecField]] =
      Option(node.get("partition-specs")).map { specs =>
        specs.elements().asScala.map { sp =>
          sp.get("spec-id").asInt() -> sp.get("fields").elements().asScala.map { f =>
            SpecField(jStr(f, "name"), jStr(f, "transform"),
              Option(f.get("source-id")).map(_.asInt()).getOrElse(-1))
          }.toSeq
        }.toMap
      }.getOrElse(Map(defaultSpecId -> specFields))
    // identity fields fill their SOURCE column from partition metadata
    // (resolved by source-id — the spec does not promise the field
    // name equals the column name); non-identity sources must be in
    // the data files and the field names are derived, not columns
    val identityFill: Seq[(String, String)] = specFields
      .filter(f => canonTransform(f.transform) == "identity")
      .map(f => f.name -> fieldsById.get(f.sourceId).map(_.name).getOrElse(f.name))
    val partCols = identityFill.map(_._2)
    val transformSources: Seq[String] = specFields
      .filter { f =>
        val c = canonTransform(f.transform); c != "identity" && c != "void" }
      .map { f =>
        fieldsById.get(f.sourceId).map(_.name).getOrElse(
          throw new IllegalArgumentException(
            s"IcebergBridge: partition field ${f.name} (${f.transform}) " +
              s"references unknown source-id ${f.sourceId} — refusing"))
      }

    if (snapOpt.isEmpty)
      return TableState(StructType(fieldsById.values.toSeq), partCols, Seq.empty,
        location, identityFill, transformSources, specFields,
        fieldNamesById = fieldsById.map { case (id, f) => id -> f.name }.toMap,
        defaultSpecId = defaultSpecId)
    val snap = snapOpt.get
    val listPath = resolve(root, location, jStr(snap, "manifest-list"))

    val manifests = readAvro(fs, listPath)
    val files = mutable.ArrayBuffer.empty[DataFileEntry]
    val deletes = mutable.ArrayBuffer.empty[DeleteFileEntry]
    manifests.foreach { mf =>
      val content = Option(mf.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
      require(content == 0 || content == 1,
        s"IcebergBridge: manifest content $content unknown — refusing")
      val mSpecId = Option(mf.get("partition_spec_id"))
        .map(_.asInstanceOf[Int]).getOrElse(0)
      val mPath = resolve(root, location, mf.get("manifest_path").toString)
      val entries = readAvro(fs, mPath)
      if (content == 1) {
        // DELETE manifest: position AND equality deletes apply on
        // read; anything else (or an equality file without its match
        // columns) refuses
        entries.foreach { e =>
          val status = e.get("status").asInstanceOf[Int]
          if (status != 2) {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val fileContent = Option(df.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
            require(fileContent == 1 || fileContent == 2,
              s"IcebergBridge: delete file content $fileContent unknown — refusing")
            val fmt = df.get("file_format").toString
            require(fmt.equalsIgnoreCase("parquet"),
              s"IcebergBridge: delete file format $fmt unsupported — refusing")
            val eqIds: Seq[Int] =
              Option(df.get("equality_ids")).map(
                _.asInstanceOf[java.util.List[Int]].asScala.toSeq).getOrElse(Nil)
            if (fileContent == 2)
              require(eqIds.nonEmpty,
                "IcebergBridge: EQUALITY delete file without equality_ids — " +
                  "refusing rather than resurrecting deleted rows")
            // partition SCOPE: a delete under an unpartitioned spec is
            // global; otherwise it applies only to data files with an
            // EQUAL partition (spec id + values) — record the tuple in
            // the delete spec's field order, human-rendered so it
            // compares against DataFileEntry.partitionValues
            val delSpec = rawSpecs.getOrElse(mSpecId,
              throw new IllegalArgumentException(
                s"IcebergBridge: delete manifest references unknown " +
                  s"partition-spec id $mSpecId — refusing"))
            val scope: Option[Seq[String]] =
              if (delSpec.isEmpty) None
              else {
                delSpec.foreach(sf => require(transformSupported(sf.transform),
                  s"IcebergBridge: delete file under a spec with unsupported " +
                    s"transform '${sf.transform}' — refusing rather than " +
                    "misscoping the delete"))
                val part = df.get("partition").asInstanceOf[GenericRecord]
                Some(delSpec.map(sf => humanPartValue(sf.transform, part.get(sf.name))))
              }
            deletes += DeleteFileEntry(df.get("file_path").toString,
              Option(e.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(
                Option(mf.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(1L)),
              if (fileContent == 2) eqIds else Nil,
              specId = mSpecId, partitionTuple = scope)
          }
        }
      } else entries.foreach { e =>
        val status = e.get("status").asInstanceOf[Int]
        if (status != 2) { // 0=existing, 1=added; 2=deleted drops out
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val fileContent = Option(df.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
          require(fileContent == 0,
            "IcebergBridge: delete file in a data manifest — refusing")
          val fmt = df.get("file_format").toString
          require(fmt.equalsIgnoreCase("parquet"),
            s"IcebergBridge: file format $fmt unsupported (parquet floor) — refusing")
          val part = df.get("partition").asInstanceOf[GenericRecord]
          // keyed by spec-field NAME, rendered in the transform's
          // human form (day ints become "2024-01-05" etc.)
          val pv = specFields.map { sf =>
            sf.name -> humanPartValue(sf.transform, part.get(sf.name))
          }.toMap
          def boundsOf(field: String): Map[Int, Array[Byte]] =
            Option(df.get(field)).map {
              _.asInstanceOf[java.util.List[GenericRecord]].asScala.map { kv =>
                val bb = kv.get("value").asInstanceOf[ByteBuffer].duplicate()
                val arr = new Array[Byte](bb.remaining()); bb.get(arr)
                kv.get("key").asInstanceOf[Int] -> arr
              }.toMap
            }.getOrElse(Map.empty)
          files += DataFileEntry(df.get("file_path").toString, pv,
            df.get("record_count").asInstanceOf[Long],
            Option(df.get("file_size_in_bytes")).map(_.asInstanceOf[Long]).getOrElse(0L),
            // v2 inheritance: a null sequence on an ADDED entry takes
            // the manifest-list's sequence_number
            Option(e.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(
              Option(mf.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(1L)),
            boundsOf("lower_bounds"), boundsOf("upper_bounds"),
            // ADDED entries: snapshot_id IS the adding snapshot; a null
            // inherits the manifest's added_snapshot_id (v2 inheritance)
            addedSnapshotId =
              if (status == 1)
                Option(e.get("snapshot_id")).map(_.asInstanceOf[Long]).getOrElse(
                  Option(mf.get("added_snapshot_id"))
                    .map(_.asInstanceOf[Long]).getOrElse(-1L))
              else
                Option(e.get("snapshot_id")).map(_.asInstanceOf[Long]).getOrElse(-1L),
            specId = mSpecId)
        }
      }
    }
    // duplicate adds across manifests would double-read rows
    val dup = files.groupBy(_.path).collectFirst { case (p, fs0) if fs0.size > 1 => p }
    require(dup.isEmpty, s"IcebergBridge: data file listed twice: ${dup.get} — refusing")
    TableState(StructType(fieldsById.values.toSeq), partCols, files.toSeq,
      location, identityFill, transformSources, specFields, deletes.toSeq,
      fieldNamesById = fieldsById.map { case (id, f) => id -> f.name }.toMap,
      defaultSpecId = defaultSpecId, listPath = Some(listPath), manifests = manifests)
  }

  /** Replay the table's CURRENT snapshot into a DataFrame: schema from
    * the metadata (never footer-merged), file list strictly from the
    * manifests (an unreferenced parquet in the tree is invisible, as
    * Iceberg requires), partition values from the manifests' partition
    * structs joined onto the scan's `_metadata.file_path` (cast to the
    * schema's column types) — never re-inferred from directory names.
    */
  def read(spark: SparkSession, dir: String, conf: Configuration = null): DataFrame =
    scan(spark, open(spark, dir, conf), _ => true)

  /** [[read]] pinned to a SNAPSHOT ID — Iceberg's time travel: older
    * snapshots stay in the metadata and their manifests still name
    * the pre-sync files (whose bytes appendSnapshot never deletes),
    * so a reader holds a stable view while syncs land.
    */
  def readSnapshot(
      spark: SparkSession,
      dir: String,
      snapshotId: Long,
      conf: Configuration = null): DataFrame =
    scan(spark, open(spark, dir, conf, Some(snapshotId)), _ => true)

  /** [[read]] with MANIFEST-DRIVEN partition pruning: `pred` sees each
    * data file's partition values and rejected files never reach the
    * scan — Iceberg's planning story, decided on driver-side metadata.
    */
  def readWhere(
      spark: SparkSession,
      dir: String,
      pred: Map[String, String] => Boolean,
      conf: Configuration = null): DataFrame =
    scan(spark, open(spark, dir, conf), f => pred(f.partitionValues))

  /** [[read]] with STATS-DRIVEN file skipping on one numeric column:
    * drops files whose manifest bounds prove `[lo, hi]` cannot match.
    * Files without bounds for the column always scan — the safe
    * direction (the [[DeltaBridge.readRange]] contract). The returned
    * frame is NOT post-filtered: callers compose their own row
    * predicate; this prunes IO, the zone-map contract.
    */
  def readRange(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double,
      conf: Configuration = null): DataFrame = {
    val t = open(spark, dir, conf)
    // the column's field id and type, from the replayed schema
    val fieldId = t.state.fieldNamesById.collectFirst { case (id, `column`) => id }
      .getOrElse(throw new IllegalArgumentException(
        s"readRange: no column '$column' in the Iceberg schema"))
    val tpe = t.state.schema(column).dataType
    def decode(b: Array[Byte]): Option[Double] = {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      (tpe, b.length) match {
        case (IntegerType, 4) => Some(bb.getInt.toDouble)
        case (LongType, 8) => Some(bb.getLong.toDouble)
        case (FloatType, 4) => Some(bb.getFloat.toDouble)
        case (DoubleType, 8) => Some(bb.getDouble)
        case _ => None // unsupported/torn bound: must scan
      }
    }
    scan(spark, t, f => {
      val mn = f.lowerBounds.get(fieldId).flatMap(decode)
      val mx = f.upperBounds.get(fieldId).flatMap(decode)
      (mn, mx) match {
        case (Some(a), Some(b)) => b >= lo && a <= hi
        case _ => true // no bounds for the column: must scan
      }
    })
  }

  /** The CURRENT snapshot id from the latest metadata — the handle a
    * caller pins BEFORE a sync to keep a stable view via
    * [[readSnapshot]] while new snapshots land.
    */
  def currentSnapshotId(
      spark: SparkSession, dir: String, conf: Configuration = null): Long = {
    val (_, root, fs) = fsOf(spark, dir, conf)
    readHead(fs, root).currentSnapshotId
  }

  /** Iceberg snapshot expiry (the `expire_snapshots` maintenance
    * action): keep the most recent `retainLast` snapshots, delete the
    * DATA files referenced only by expired ones, delete the expired
    * snapshots' manifest-list/manifest avro files, and publish a new
    * metadata version without them. Time travel to kept snapshots
    * keeps working; pins into the expired range now refuse (their
    * snapshot ids are gone from the metadata — the reader's
    * time-travel-target-missing error). Returns the number of data
    * files deleted. At 100 TB this is the retention job that bounds
    * storage: metadata-sized work plus one delete per expired file.
    */
  def expireSnapshots(
      spark: SparkSession,
      dir: String,
      retainLast: Int = 1,
      conf: Configuration = null): Int = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val (_, root, fs) = fsOf(spark, dir, conf)
    val head = readHead(fs, root)
    val node = head.node
    val location = head.location
    // v1 snapshots carry no sequence-number; order by it when every
    // snapshot has one, else by timestamp-ms (never NPE on a v1 table)
    val allSnaps = node.get("snapshots").elements().asScala.toSeq
    val snaps =
      if (allSnaps.forall(s => Option(s.get("sequence-number")).exists(!_.isNull)))
        allSnaps.sortBy(_.get("sequence-number").asLong())
      else allSnaps.sortBy(_.get("timestamp-ms").asLong())
    if (snaps.size <= retainLast) return 0
    val (expired, kept) = snaps.splitAt(snaps.size - retainLast)
    val keptIds = kept.map(_.get("snapshot-id").asLong()).toSet
    require(keptIds.contains(node.get("current-snapshot-id").asLong()),
      "expireSnapshots would drop the current snapshot — refusing")

    def filesOf(snapId: Long): (Set[String], Set[Path]) = {
      val state = loadState(fs, root, head, Some(snapId))
      (state.files.map(f => resolve(root, location, f.path).toString).toSet,
        (state.listPath.toSeq ++ state.manifests.map(mf =>
          resolve(root, location, mf.get("manifest_path").toString))).toSet)
    }
    // EVERY read happens before ANY delete, and the reachable set is
    // the union over KEPT snapshots of both data files AND manifests:
    // real Iceberg writers REUSE manifests across snapshots (snapshot
    // N's manifest-list names manifests added by earlier snapshots),
    // so an expired snapshot's manifest may still be live — deleting
    // it would make the current snapshot unreadable. Metadata is also
    // published BEFORE bytes are deleted (Iceberg's own expire order):
    // a crash mid-delete leaves unreferenced garbage, never a
    // metadata version naming deleted files.
    val keptStates = keptIds.toSeq.map(filesOf)
    val keptFiles = keptStates.flatMap(_._1).toSet
    val keptManifests = keptStates.flatMap(_._2).toSet
    val expiredStates = expired.map(s => filesOf(s.get("snapshot-id").asLong()))
    val deadFiles = expiredStates.flatMap(_._1).toSet -- keptFiles
    val deadManifests = expiredStates.flatMap(_._2).toSet -- keptManifests

    def keptId(x: Any): Boolean = keptIds.contains(x.asInstanceOf[Number].longValue())
    def retained(item: Object): Boolean = item match {
      case m: scala.collection.Map[_, _] =>
        m.asInstanceOf[scala.collection.Map[String, Any]].get("snapshot-id").exists(keptId)
      case m: java.util.Map[_, _] =>
        Option(m.asInstanceOf[java.util.Map[String, Object]].get("snapshot-id")).exists(keptId)
      case _ => true
    }
    commit(fs, root, head, None) { m =>
      m.retain("snapshots")(retained)
      m.retain("snapshot-log")(retained)
    }

    // metadata is durable; now the bytes
    var deleted = 0
    deadFiles.foreach(p => if (fs.delete(new Path(p), false)) deleted += 1)
    deadManifests.foreach(p => fs.delete(p, false))
    deleted
  }

  /** The rows of `t`'s replayed snapshot in the files `keep` admits. */
  private def scan(spark: SparkSession, t: Table, keep: DataFileEntry => Boolean): DataFrame = {
    val Table(fs, _, root, _, state) = t
    val files = state.files.filter(keep)
    val schema = state.schema
    val partCols = state.partCols
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

    val paths = files.map(f => resolve(root, state.location, f.path).toString)
    // non-identity transforms never fill from metadata — the SOURCE
    // column must be physically in the data files (the spec's own
    // contract for real writers). Probe ONE footer and refuse when it
    // isn't, rather than scanning silent nulls into the source column.
    val mustScan = state.transformSources.distinct
      .filter(dataSchema.fieldNames.contains)
    if (mustScan.nonEmpty) {
      val probe = spark.read.parquet(paths.head).schema.fieldNames.toSet
      val missing = mustScan.filterNot(probe)
      require(missing.isEmpty,
        s"IcebergBridge: non-identity partition source column(s) " +
          s"${missing.mkString(", ")} absent from the data files — refusing " +
          "rather than reading nulls")
    }
    // join key: the file path in the exact form Spark's scan reports
    // (FileMeta.scanPathKey — URI-encoded, authority-less scheme):
    // a raw Path.toString key would match nothing for a partition
    // value with a space/'#'/'%' and silently drop the file's rows.
    // Unique per file by the duplicate-add refusal above.
    val qualified = files.zip(paths).map { case (f, p) =>
      (FileMeta.scanPathKey(fs, new Path(p)), f)
    }
    val data0 = spark.read.schema(dataSchema).parquet(paths: _*)
      .withColumn("__file", col("_metadata.file_path"))
    val posDeletes = state.deleteFiles.filter(_.equalityIds.isEmpty)
    val eqDeletes = state.deleteFiles.filter(_.equalityIds.nonEmpty)
    // per-file (manifest path -> scan key, data sequence, partition
    // key) broadcast — both delete kinds gate application on the data
    // file's sequence; equality deletes additionally on its partition
    lazy val mapDf = {
      val mapSchema = StructType(Seq(
        StructField("__dfile", StringType),
        StructField("__file", StringType),
        StructField("__dataseq", LongType),
        StructField("__partkey", StringType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          qualified.map { case (k, f) =>
            Row(f.path, k, f.sequenceNumber, dataPartKey(state, f)) }, 1),
        mapSchema)
    }
    var data = data0
    if (posDeletes.nonEmpty) {
      // POSITION deletes: drop rows by (data file, row ordinal) via
      // one left-anti join ([[FileMeta.dropPositions]]); applies iff
      // deleteSeq >= dataSeq. The spec's partition scope is implied by
      // the file_path equality (a well-formed writer's position delete
      // only names files whose partition its own tuple covers), so no
      // explicit gate here.
      val delSchema = StructType(Seq(
        StructField("file_path", StringType),
        StructField("pos", LongType)))
      val dels = posDeletes.map { d =>
        spark.read.schema(delSchema)
          .parquet(resolve(root, state.location, d.path).toString)
          .withColumn("__delseq", lit(d.sequenceNumber))
      }.reduce(_ unionByName _)
        .join(broadcast(mapDf), col("file_path") === col("__dfile"))
        .filter(col("__delseq") >= col("__dataseq"))
        .select(col("__file"), col("pos").as("__pos"))
      data = FileMeta.dropPositions(data, dels)
    }
    if (eqDeletes.nonEmpty) {
      // EQUALITY deletes: a data row dies when every equality column
      // null-safe-equals some delete row's AND its file's sequence is
      // STRICTLY below the delete's AND the delete's partition scope
      // covers the file — global when the delete's spec is
      // unpartitioned, else only data files whose partition (spec id
      // + values) EQUALS the delete's (the spec rule; a scoped CDC
      // delete must never kill matching keys in other partitions).
      // One left-anti join per distinct (equality-id set, scope).
      eqDeletes.filter(_.partitionTuple.isDefined).foreach(d =>
        require(d.specId == state.defaultSpecId,
          s"IcebergBridge: partition-scoped equality delete under " +
            s"non-default spec ${d.specId} — refusing (scoped deletes " +
            "across partition evolution are beyond the bridge floor)"))
      data = data.join(
        broadcast(mapDf.select("__file", "__dataseq", "__partkey")), Seq("__file"))
      eqDeletes.groupBy(d => (d.equalityIds.sorted, d.specId, d.partitionTuple))
        .foreach { case ((ids, dSpecId, scope), group) =>
        val cols = ids.map(id => state.fieldNamesById.getOrElse(id,
          throw new IllegalArgumentException(
            s"IcebergBridge: equality delete references unknown field id $id — refusing")))
        val missing = cols.filterNot(dataSchema.fieldNames.contains)
        require(missing.isEmpty,
          s"IcebergBridge: equality delete column(s) ${missing.mkString(", ")} " +
            "are not scanned data columns — refusing rather than misapplying")
        val delSchema = StructType(cols.map(c =>
          dataSchema(dataSchema.fieldIndex(c)).copy(nullable = true)))
        val dels = group.map { d =>
          spark.read.schema(delSchema)
            .parquet(resolve(root, state.location, d.path).toString)
            .withColumn("__delseq", lit(d.sequenceNumber))
        }.reduce(_ unionByName _)
        val dAl = data.alias("__d")
        val xAl = dels.alias("__x")
        val partGate = scope match {
          case Some(values) => col("__d.__partkey") === lit(partKeyOf(dSpecId, values))
          case None => lit(true)
        }
        val cond = cols.map(c =>
          col(s"__d.`$c`") <=> col(s"__x.`$c`")).reduce(_ && _) &&
          col("__x.__delseq") > col("__d.__dataseq") && partGate
        data = dAl.join(xAl, cond, "left_anti")
      }
      data = data.drop("__dataseq").drop("__partkey")
    }
    // partitionValues is keyed by spec-field NAME; identityFill maps
    // each to the SOURCE column the output schema names
    FileMeta.fillPartitions(spark, data, schema, partCols,
      qualified.map { case (q, f) =>
        q -> state.identityFill.map { case (fieldName, _) => f.partitionValues.getOrElse(fieldName, null) } },
      identity,
      "IcebergBridge: scanned file missing from the manifest partition " +
        "map (has Spark's _metadata.file_path form changed?): ")
  }
}
