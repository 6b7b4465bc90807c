package graft.store

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.control.NonFatal
import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta-protocol log bridge (the OPEN standard, delta.io PROTOCOL.md):
  * writes a version-0 Delta commit describing a plain hive-partitioned
  * parquet tree, and replays simple Delta logs back into a DataFrame —
  * so a txlog snapshot exported through [[TimeseriesStore.exportSnapshot]]
  * becomes a table ANY Delta reader (another Spark with delta jars,
  * DuckDB's delta extension, delta-rs) opens natively, and tables those
  * writers produce can be read here without format jars.
  *
  * The WRITE floor is protocol reader version 1 (universally
  * supported); the READ floor additionally honors reader v2's column
  * mapping in NAME and ID modes (name is the current Databricks
  * writer default — logical schema names resolve to physical parquet
  * columns via field metadata; id binds by embedded parquet field
  * ids) and v3 tables whose readerFeatures are all supported —
  * including deletionVectors (dead row indexes decoded from the
  * public z85 + portable-roaring formats and dropped via one
  * anti-join; see [[DeletionVectors]]). No checkpoint REQUIREMENT
  * (JSON commits are replayed
  * directly; Delta only mandates checkpoints as an optimization).
  * [[read]] REFUSES logs beyond that floor instead of silently
  * misreading them.
  *
  * Scale shape: log replay is driver-side by design — the log is
  * metadata (KBs per commit, one `add` per FILE, not per row; this is
  * exactly what Delta itself does). The data read is one multi-file
  * parquet scan with an explicit schema (no footer-merge job), and
  * partition values ride a broadcast (file -> values) map joined on
  * the scan's `_metadata.file_path` basename — never re-inferred from
  * directory names, so the bridge reads Delta tables whose files do
  * NOT use hive-style paths (Delta does not require them).
  *
  * Write path: [[writeLog]] is commit 0 and [[appendCommit]] commit
  * N+1, both through one commit-file writer (an exclusive create, the
  * protocol's put-if-absent) and one add-action builder.
  * [[writeCheckpoint]] writes its parquet through
  * [[FileMeta.writeOneParquet]], which fails on a refused rename
  * before `_last_checkpoint` can name the file.
  */
object DeltaBridge {

  private val LogDirName = "_delta_log"
  private val CommitFile: Regex = """(\d{20})\.json""".r
  private val LastCheckpointName = "_last_checkpoint"
  private def mapper = TimeseriesStore.manifestMapper

  private final case class AddEntry(
      path: String,
      partitionValues: Map[String, String],
      size: Long,
      modificationTime: Long,
      stats: Option[String],
      // reader-v3 deletionVectors: dead physical row indexes of this
      // file; None for the overwhelmingly common DV-less add
      dv: Option[DeletionVectors.Descriptor] = None)

  /** The driver-side replay result: protocol floor, table metadata and
    * the live add set, in first-seen order. This is metadata-sized by
    * construction (one entry per live FILE) — the same driver-resident
    * snapshot state Delta's own reader keeps.
    */
  private final case class LogState(
      metaId: String,
      createdTime: Long,
      schemaString: String,
      partCols: Seq[String],
      live: mutable.LinkedHashMap[String, AddEntry],
      latestVersion: Long,
      configuration: Map[String, String] = Map.empty) {
    /** Column-mapping mode (none | name | id — all three read). */
    def mappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")

    /** logical -> PHYSICAL column name. Under column mapping (name OR
      * id mode) the adds' partitionValues keys and the stats keys use
      * the physical name from the schema field metadata — and in name
      * mode the parquet columns do too; identity when unmapped.
      */
    def physOf: Map[String, String] = {
      val schema = DataType.fromJson(schemaString).asInstanceOf[StructType]
      if (mappingMode == "none") schema.fieldNames.map(n => n -> n).toMap
      else schema.fields.map { f =>
        require(f.metadata.contains("delta.columnMapping.physicalName"),
          s"column ${f.name}: delta.columnMapping.mode=$mappingMode but the " +
            "schema field carries no physicalName — refusing (malformed mapping)")
        f.name -> f.metadata.getString("delta.columnMapping.physicalName")
      }.toMap
    }

    /** logical column -> parquet FIELD ID (id-mode scan matching). */
    def fieldIdOf: Map[String, Long] = {
      val schema = DataType.fromJson(schemaString).asInstanceOf[StructType]
      schema.fields.map { f =>
        require(f.metadata.contains("delta.columnMapping.id"),
          s"column ${f.name}: delta.columnMapping.mode=id but the schema " +
            "field carries no columnMapping.id — refusing (malformed mapping)")
        f.name -> f.metadata.getLong("delta.columnMapping.id")
      }.toMap
    }

    /** An add's partition values re-keyed to LOGICAL names. */
    def logicalPv(a: AddEntry): Map[String, String] = {
      val p = physOf
      partCols.map(c => c -> a.partitionValues.getOrElse(p.getOrElse(c, c), null)).toMap
    }
  }

  /** Percent-encode a relative file path the way the Delta spec stores
    * `add.path` (RFC 2396 path encoding, '/' kept as separator). */
  private def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath.stripPrefix("/")

  private def decodePath(enc: String): String =
    new java.net.URI(enc).getPath

  /** Per-file Delta `stats` JSON from ONE footer read: exact row count
    * always; min/max/nullCount for the [[FileMeta.ColumnStats.plainNumeric]]
    * columns. This is what downstream Delta readers use for data
    * skipping and count(*) pushdown — numRecords alone answers COUNT
    * from the log with zero data IO. An unreadable footer gives no
    * stats: a file without stats is never skipped.
    */
  private def statsJson(p: Path, hc: Configuration): Option[String] =
    try {
      val s = FileMeta.stats(p, hc)
      val num = s.columns.filter(_._2.plainNumeric)
      Some(mapper.writeValueAsString(Map(
        "numRecords" -> s.rows,
        "minValues" -> num.map { case (n, c) => n -> c.min }.toMap,
        "maxValues" -> num.map { case (n, c) => n -> c.max }.toMap,
        "nullCount" -> num.map { case (n, c) => n -> c.nulls }.toMap)))
    } catch { case NonFatal(_) => None }

  /** An `add` action for the data file at `rel` under the table root:
    * its hive partition values, size, mtime and stats when its footer
    * read. */
  private def addAction(rel: String, size: Long, mtime: Long, stats: Option[String]): Map[String, Any] = {
    val base = Map[String, Any](
      "path" -> encodePath(rel),
      "partitionValues" -> FileMeta.hiveParts(rel).toMap,
      "size" -> size, "modificationTime" -> mtime,
      "dataChange" -> true)
    Map("add" -> stats.map(s => base + ("stats" -> s)).getOrElse(base))
  }

  /** Writes commit `version` of the log under `root`: a commitInfo
    * stamped `ts` with `operation`, then `actions`, one JSON object a
    * line. The file is created exclusively, so two writers racing for
    * one version cannot both succeed (the protocol's put-if-absent
    * commit). Returns `version`. */
  private def writeCommit(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, version: Long,
      ts: Long, operation: String, actions: Seq[Map[String, Any]]): Long = {
    val commitInfo = Map("commitInfo" -> Map(
      "timestamp" -> ts, "operation" -> operation,
      "operationParameters" -> Map.empty[String, String],
      "engineInfo" -> "graft-delta-bridge"))
    val out = fs.create(new Path(new Path(root, LogDirName), f"$version%020d.json"), false)
    try (commitInfo +: actions).foreach { a =>
      out.write(mapper.writeValueAsBytes(a)); out.write('\n') }
    finally out.close()
    version
  }

  /** Write `_delta_log/00000000000000000000.json`, commit 0, describing
    * every `*.parquet` data file already under `dir`. Partition columns and
    * their per-file values are parsed from the files' `k=v` directory
    * segments (the layout [[TimeseriesStore.exportSnapshot]] lays
    * down); the data schema comes from ONE footer (exports are
    * schema-aligned by construction) and partition columns are
    * declared StringType — the type the store's `partition` column
    * actually has. Timestamps in the log come from file modification
    * times, so re-exporting unchanged data yields a byte-identical
    * log (no wall-clock in the artifact). Returns the add-file count.
    */
  def writeLog(
      spark: SparkSession,
      dir: String,
      tableId: String,
      conf: Configuration = null): Int = {
    val hc = if (conf == null) spark.sessionState.newHadoopConf() else conf
    val root = new Path(dir)
    val fs = root.getFileSystem(hc)

    // every data file, with its path RELATIVE to the table root, and
    // the partition columns: the k=v directory keys every file shares
    // (exportSnapshot lays down one layout)
    val sorted = FileMeta.dataFiles(fs, root, LogDirName)
    val partCols = FileMeta.partitionKeys(sorted.map(_._1))

    // data schema from one footer; full schema appends partition cols
    val dataSchema = spark.read.parquet(
      new Path(root, sorted.head._1).toString).schema
    // a physical column sharing a partition directory's name would
    // produce a schema with the column declared twice — refuse
    val clash = dataSchema.map(_.name).toSet.intersect(partCols.toSet)
    require(clash.isEmpty,
      s"DeltaBridge: column(s) ${clash.mkString(", ")} appear both in the " +
        "parquet data and as hive partition directories — refusing rather " +
        "than declaring a duplicate column in schemaString")
    val schema = StructType(dataSchema.fields ++
      partCols.map(c => StructField(c, StringType, nullable = true)))

    val maxMtime = sorted.map(_._3).max
    val protocol = Map("protocol" -> Map(
      "minReaderVersion" -> 1, "minWriterVersion" -> 2))
    val metaData = Map("metaData" -> Map(
      // deterministic table id: same source+version => same log bytes
      "id" -> java.util.UUID.nameUUIDFromBytes(
        tableId.getBytes(StandardCharsets.UTF_8)).toString,
      "format" -> Map("provider" -> "parquet",
        "options" -> Map.empty[String, String]),
      "schemaString" -> schema.json,
      "partitionColumns" -> partCols,
      "configuration" -> Map.empty[String, String],
      "createdTime" -> maxMtime))
    val adds = FileMeta.describeFiles(spark, hc, sorted) { case ((rel, size, mtime), c) =>
      addAction(rel, size, mtime, statsJson(new Path(root, rel), c))
    }
    writeCommit(fs, root, 0L, maxMtime, "WRITE", protocol +: metaData +: adds)
    sorted.size
  }

  /** Reader-protocol floor, validated once per replay AFTER all
    * actions are seen (a protocol action may precede or follow the
    * metaData that explains it): v1 always; v2 adds exactly column
    * mapping, supported in NAME mode (the current Databricks writer
    * default — logical names map to physical parquet columns via
    * schema field metadata) or ID mode (parquet field-id binding); v3
    * only when every declared readerFeature is one this bridge honors
    * — deletionVectors now IS (dead row indexes drop via one anti-join
    * on _metadata.row_index; an unreadable vector still refuses inside
    * [[DeletionVectors.positions]] rather than resurrecting rows).
    */
  private val SupportedReaderFeatures =
    Set("columnMapping", "timestampNtz", "deletionVectors")

  private def validateProtocol(
      dir: String, maxReader: Int, features: Set[String],
      cfg: Map[String, String]): Unit = {
    require(maxReader <= 3,
      s"unsupported Delta minReaderVersion $maxReader (bridge reads v1-v3/limited)")
    if (maxReader == 3) {
      require(features.nonEmpty,
        s"$dir declares Delta minReaderVersion 3 without readerFeatures — " +
          "malformed protocol, refusing")
      val bad = features -- SupportedReaderFeatures
      require(bad.isEmpty,
        s"$dir declares Delta readerFeatures ${bad.mkString(", ")} this " +
          "bridge cannot honor — refusing rather than misreading")
    }
    val mode = cfg.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "none" || mode == "name" || mode == "id",
      s"$dir uses delta.columnMapping.mode=$mode — the bridge reads " +
        "none/name/id modes only")
  }

  private def listCommits(
      fs: org.apache.hadoop.fs.FileSystem, logDir: Path): Seq[(Long, Path)] =
    fs.listStatus(logDir).toSeq
      .flatMap(st => st.getPath.getName match {
        case CommitFile(v) => Some((v.toLong, st.getPath))
        case _ => None
      }).sortBy(_._1)

  /** Replay the log under `dir` to its current driver-side state. When
    * a `_last_checkpoint` is present the replay SEEDS from the named
    * parquet checkpoint and walks only the JSON commits after it — the
    * protocol's own bound on replay cost for long-lived logs (a daily
    * sync produces 365 commits/year; the checkpoint keeps open-a-table
    * at O(1) files read, which is the whole point at warehouse scale).
    */
  private def replayState(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      dir: String,
      asOf: Option[Long] = None): LogState = {
    val logDir = new Path(root, LogDirName)
    require(fs.exists(logDir), s"$dir has no $LogDirName — not a Delta table")

    var metaId: String = null
    var createdTime = 0L
    var schemaString: String = null
    var partCols: Seq[String] = Nil
    var configuration: Map[String, String] = Map.empty
    var maxReader = 1
    var readerFeatures = Set.empty[String]
    val live = mutable.LinkedHashMap.empty[String, AddEntry]
    var seeded = -1L

    // a time-travel read pinned BELOW the checkpoint replays the JSON
    // commits from 0 instead (the checkpoint only holds current state);
    // that needs those commits to still exist — the same contract Delta
    // itself has for pre-checkpoint time travel
    val lastCkpt = new Path(logDir, LastCheckpointName)
    if (fs.exists(lastCkpt) && asOf.isEmpty) {
      val in = fs.open(lastCkpt)
      val node = try mapper.readTree(
        new java.io.InputStreamReader(in, "UTF-8")) finally in.close()
      val v = node.get("version").asLong()
      // third-party writers split large checkpoints into N parts
      // (`parts` in _last_checkpoint; file pattern
      // <v>.checkpoint.<i>.<n>.parquet) — the actions are simply
      // sharded, so reading all parts as one scan replays identically
      val ckptPaths = Option(node.get("parts")).filterNot(_.isNull)
        .map(_.asInt()) match {
        case None => Seq(new Path(logDir, f"$v%020d.checkpoint.parquet"))
        case Some(n) =>
          require(n >= 1, s"$dir _last_checkpoint declares parts=$n")
          (1 to n).map(i =>
            new Path(logDir, f"$v%020d.checkpoint.$i%010d.$n%010d.parquet"))
      }
      ckptPaths.foreach(p => require(fs.exists(p),
        s"$dir names checkpoint version $v but ${p.getName} is missing"))
      val df = spark.read.parquet(ckptPaths.map(_.toString): _*)
      val cols = df.columns.toSet
      // third-party checkpoints may omit optional add fields (stats,
      // even partitionValues on unpartitioned tables) — read every
      // field schema-safely instead of assuming this bridge's layout
      def fOpt[T](r: Row, name: String): Option[T] =
        if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
          Some(r.getAs[T](name)) else None
      df.collect().foreach { r =>
        if (cols("protocol") && r.getAs[Row]("protocol") != null) {
          val pr = r.getAs[Row]("protocol")
          maxReader = math.max(maxReader, pr.getAs[Int]("minReaderVersion"))
          readerFeatures ++= fOpt[scala.collection.Seq[String]](pr, "readerFeatures")
            .map(_.toSet).getOrElse(Set.empty)
        }
        if (cols("metaData") && r.getAs[Row]("metaData") != null) {
          val md = r.getAs[Row]("metaData")
          metaId = md.getAs[String]("id")
          schemaString = md.getAs[String]("schemaString")
          partCols = md.getAs[scala.collection.Seq[String]]("partitionColumns").toSeq
          createdTime = fOpt[java.lang.Long](md, "createdTime")
            .map(_.longValue).getOrElse(0L)
          configuration = fOpt[scala.collection.Map[String, String]](md, "configuration")
            .map(_.toMap).getOrElse(Map.empty)
        }
        if (cols("add") && r.getAs[Row]("add") != null) {
          val a = r.getAs[Row]("add")
          val dv = fOpt[Row](a, "deletionVector").map { d =>
            def g[T](name: String): Option[T] =
              if (d.schema.fieldNames.contains(name) && !d.isNullAt(d.fieldIndex(name)))
                Some(d.getAs[T](name)) else None
            DeletionVectors.Descriptor(
              d.getAs[String]("storageType"),
              d.getAs[String]("pathOrInlineDv"),
              g[java.lang.Integer]("offset").map(_.intValue),
              g[java.lang.Number]("sizeInBytes").map(_.intValue).getOrElse(
                throw new IllegalArgumentException(
                  "checkpoint deletionVector without sizeInBytes — refusing")),
              g[java.lang.Number]("cardinality").map(_.longValue).getOrElse(
                throw new IllegalArgumentException(
                  "checkpoint deletionVector without cardinality — refusing")))
          }
          live(decodePath(a.getAs[String]("path"))) = AddEntry(
            decodePath(a.getAs[String]("path")),
            fOpt[scala.collection.Map[String, String]](a, "partitionValues")
              .map(_.toMap).getOrElse(Map.empty),
            fOpt[java.lang.Long](a, "size").map(_.longValue).getOrElse(0L),
            fOpt[java.lang.Long](a, "modificationTime").map(_.longValue).getOrElse(0L),
            fOpt[String](a, "stats"),
            dv)
        }
        if (cols("remove") && r.getAs[Row]("remove") != null)
          live.remove(decodePath(r.getAs[Row]("remove").getAs[String]("path")))
      }
      seeded = v
    }

    val allCommits = listCommits(fs, logDir)
    asOf.foreach { v =>
      require(allCommits.exists(_._1 == v),
        s"$dir has no Delta commit $v to time-travel to " +
          s"(versions: ${allCommits.map(_._1).mkString(",")})")
    }
    val commits = allCommits
      .filter(_._1 > seeded)
      .filter(c => asOf.forall(c._1 <= _))
    require(seeded >= 0 || commits.nonEmpty,
      s"$dir/$LogDirName holds no commit json files")
    commits.foreach { case (_, p) =>
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toVector finally in.close()
      lines.filter(_.trim.nonEmpty).foreach { line =>
        // name the file on a parse failure: "the table won't open"
        // with a Jackson stack and no path is undebuggable at a
        // thousand-commit log
        val node =
          try mapper.readTree(line)
          catch { case e: Exception => throw new IllegalArgumentException(
            s"unparseable Delta action in ${p.getName}: ${e.getMessage}") }
        Option(node.get("protocol")).foreach { pr =>
          maxReader = math.max(maxReader, pr.get("minReaderVersion").asInt())
          Option(pr.get("readerFeatures")).filterNot(_.isNull).foreach { fts =>
            readerFeatures ++= (0 until fts.size()).map(fts.get(_).asText())
          }
        }
        Option(node.get("metaData")).foreach { md =>
          metaId = md.get("id").asText()
          schemaString = md.get("schemaString").asText()
          val pcs = md.get("partitionColumns")
          partCols = (0 until pcs.size()).map(pcs.get(_).asText())
          createdTime = Option(md.get("createdTime"))
            .filterNot(_.isNull).map(_.asLong()).getOrElse(0L)
          configuration = Option(md.get("configuration")).filterNot(_.isNull).map { c =>
            val it = c.fields()
            val m = mutable.LinkedHashMap.empty[String, String]
            while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText() }
            m.toMap
          }.getOrElse(Map.empty[String, String])
        }
        Option(node.get("add")).foreach { a =>
          val path = decodePath(a.get("path").asText())
          // read partitionValues off the action's OWN fields, not the
          // metaData's partitionColumns: actions within a commit are
          // not ordered by the protocol, so a foreign log may declare
          // metaData after its adds — keying off partCols would then
          // silently drop every partition value
          val pv = Option(a.get("partitionValues")).map { pvNode =>
            val it = pvNode.fields()
            val m = mutable.LinkedHashMap.empty[String, String]
            while (it.hasNext) {
              val e = it.next()
              m(e.getKey) = if (e.getValue.isNull) null else e.getValue.asText()
            }
            m.toMap
          }.getOrElse(Map.empty)
          val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map { n =>
            DeletionVectors.Descriptor(
              n.get("storageType").asText(),
              n.get("pathOrInlineDv").asText(),
              Option(n.get("offset")).filterNot(_.isNull).map(_.asInt()),
              n.get("sizeInBytes").asInt(),
              n.get("cardinality").asLong())
          }
          live(path) = AddEntry(path, pv,
            Option(a.get("size")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L),
            Option(a.get("modificationTime")).filterNot(_.isNull)
              .map(_.asLong()).getOrElse(0L),
            Option(a.get("stats")).filterNot(_.isNull).map(_.asText()),
            dv)
        }
        Option(node.get("remove")).foreach(r =>
          live.remove(decodePath(r.get("path").asText())))
      }
    }
    validateProtocol(dir, maxReader, readerFeatures, configuration)
    require(schemaString != null, s"$dir log carries no metaData action")
    val latest = (seeded +: commits.map(_._1)).max
    LogState(metaId, createdTime, schemaString, partCols, live, latest, configuration)
  }

  /** Append one Delta commit describing an incremental change: new data
    * files (already physically under `dir`) become `add` actions with
    * per-file stats, and logically dropped files become `remove`
    * tombstones — the bytes STAY on disk so Delta readers holding older
    * versions keep working (vacuum is a separate, retention-gated
    * concern). Timestamps derive from file mtimes (the new adds', else
    * the live set's max), never wall clock, so a replayed sync writes a
    * byte-identical commit. Returns the new Delta log version.
    */
  def appendCommit(
      spark: SparkSession,
      dir: String,
      addRel: Seq[String],
      removeRel: Seq[String],
      conf: Configuration = null): Long = {
    val hc = if (conf == null) spark.sessionState.newHadoopConf() else conf
    val root = new Path(dir)
    val fs = root.getFileSystem(hc)
    val state = replayState(spark, fs, root, dir)
    // the sync writer's floor is unmapped bridge-written tables; a
    // name-mapped foreign table is read-only here (its adds would need
    // physical-name partition keys this writer does not produce)
    require(state.mappingMode == "none",
      s"appendCommit: $dir uses column mapping — the bridge reads it but " +
        "only syncs unmapped exports")

    addRel.foreach { rel =>
      require(FileMeta.hiveParts(rel).map(_._1) == state.partCols,
        s"sync add $rel does not match partition columns ${state.partCols}")
      require(!state.live.contains(rel), s"sync add $rel is already live")
    }
    removeRel.foreach { rel =>
      require(state.live.contains(rel), s"sync remove $rel is not live")
    }

    val addSt = FileMeta.describeFiles(spark, hc, addRel.sorted) { (rel, c) =>
      val p = new Path(root, rel)
      val st = p.getFileSystem(c).getFileStatus(p)
      (rel, st.getLen, st.getModificationTime, statsJson(p, c))
    }
    val ts = (addSt.map(_._3) ++ state.live.values.map(_.modificationTime)).max

    val removes = removeRel.sorted.map { rel =>
      Map("remove" -> Map(
        "path" -> encodePath(rel),
        "deletionTimestamp" -> ts, "dataChange" -> true))
    }
    writeCommit(fs, root, state.latestVersion + 1, ts, "SYNC",
      addSt.map((addAction _).tupled) ++ removes)
  }

  /** Write a Delta-protocol parquet checkpoint of the log's CURRENT
    * state (`N.checkpoint.parquet` + `_last_checkpoint`): one row per
    * action — protocol, metaData, and every live add with its stats.
    * Readers (this bridge's [[read]] and real Delta readers alike) then
    * open the table from one parquet file plus the commits after N,
    * instead of replaying the whole JSON history — the protocol's
    * replay-cost bound, which is what makes a continuously synced table
    * open in O(1) at the thousandth commit. Returns the checkpointed
    * version.
    */
  def writeCheckpoint(spark: SparkSession, dir: String, conf: Configuration = null): Long = {
    val hc = if (conf == null) spark.sessionState.newHadoopConf() else conf
    val root = new Path(dir)
    val fs = root.getFileSystem(hc)
    val state = replayState(spark, fs, root, dir)
    val v = state.latestVersion
    require(v >= 0, s"$dir has no committed Delta version to checkpoint")
    // this checkpoint layout has no deletionVector column — writing it
    // for a DV-bearing table would hand checkpoint-seeded readers a
    // live set WITHOUT the vectors, resurrecting deleted rows
    require(state.live.values.forall(_.dv.isEmpty),
      s"$dir carries deletion vectors — this writer cannot checkpoint " +
        "them; refusing rather than publishing a resurrect-on-read checkpoint")

    val protoT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val schema = StructType(Seq(
      StructField("protocol", protoT), StructField("metaData", metaT),
      StructField("add", addT)))

    val rows = mutable.ArrayBuffer.empty[Row]
    rows += Row(Row(1, 2), null, null)
    rows += Row(null, Row(state.metaId, Row("parquet", Map.empty[String, String]),
      state.schemaString, state.partCols, Map.empty[String, String],
      state.createdTime), null)
    state.live.values.foreach { a =>
      rows += Row(null, null, Row(encodePath(a.path), a.partitionValues,
        a.size, a.modificationTime, true, a.stats.orNull))
    }

    val logDir = new Path(root, LogDirName)
    FileMeta.writeOneParquet(
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema),
      fs, new Path(logDir, s".ckpt_tmp_$v"), new Path(logDir, f"$v%020d.checkpoint.parquet"))

    val out = fs.create(new Path(logDir, LastCheckpointName), true)
    try out.write(mapper.writeValueAsBytes(Map(
      "version" -> v, "size" -> rows.size)))
    finally out.close()
    v
  }

  /** Physically delete data files that are tombstoned in the CURRENT
    * state and whose `deletionTimestamp` is older than the retention
    * window — Delta's VACUUM contract: time travel inside the window
    * stays intact, pinned readers older than it lose their files (the
    * documented trade, identical to Delta's). The log itself is never
    * touched. Returns the deleted file count. Wall clock enters only
    * at RUN time (the cutoff), never into any on-disk artifact.
    */
  def vacuum(
      spark: SparkSession,
      dir: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      conf: Configuration = null): Int = {
    val hc = if (conf == null) spark.sessionState.newHadoopConf() else conf
    val root = new Path(dir)
    val fs = root.getFileSystem(hc)
    val state = replayState(spark, fs, root, dir)
    val cutoff = System.currentTimeMillis() - retentionMs

    // tombstones = every removed path with its deletion time, minus
    // anything re-added since (live wins: a path can cycle through
    // remove/add across compactions)
    val logDir = new Path(root, LogDirName)
    val dead = mutable.LinkedHashMap.empty[String, Long]
    listCommits(fs, logDir).foreach { case (_, p) =>
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toVector finally in.close()
      lines.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        Option(node.get("add")).foreach(a =>
          dead.remove(decodePath(a.get("path").asText())))
        Option(node.get("remove")).foreach { r =>
          val path = decodePath(r.get("path").asText())
          val ts = Option(r.get("deletionTimestamp"))
            .filterNot(_.isNull).map(_.asLong()).getOrElse(0L)
          dead(path) = ts
        }
      }
    }
    val victims = dead.collect {
      case (path, ts) if ts < cutoff && !state.live.contains(path) => path
    }.toSeq
    victims.foreach { rel => fs.delete(new Path(root, rel), false) }
    victims.size
  }

  /** Replay a Delta log under `dir` and return the live snapshot as a
    * DataFrame in the log's declared schema (data columns + partition
    * columns, cast from the log's string partitionValues). Supports
    * multi-commit logs with `add`/`remove` reconciliation, seeds from
    * a parquet checkpoint when one is named; refuses
    * `minReaderVersion` > 1.
    */
  def read(spark: SparkSession, dir: String, conf: Configuration = null): DataFrame =
    readVersion(spark, dir, None, conf)

  /** [[read]] pinned to a Delta log version (`versionAsOf`): replays
    * only commits ≤ `version`, so a reader keeps a stable view while
    * syncs land — remove tombstones leave the referenced bytes on disk
    * precisely so these pinned reads stay valid. Pins below the latest
    * checkpoint replay the JSON commits from 0 (checkpoints hold only
    * current state), which is Delta's own pre-checkpoint time-travel
    * contract.
    */
  def readVersion(
      spark: SparkSession,
      dir: String,
      version: Option[Long],
      conf: Configuration = null): DataFrame =
    readPruned(spark, dir, version, (_, _) => true, conf)

  /** [[read]] with LOG-DRIVEN partition pruning: `pred` sees each live
    * add's partitionValues map and files it rejects never reach the
    * scan — Delta's partition-skipping story, decided on driver-side
    * metadata. A pruned open of one day out of a 3-year table lists
    * one day's files; the data job never learns the rest existed.
    */
  def readWhere(
      spark: SparkSession,
      dir: String,
      pred: Map[String, String] => Boolean,
      conf: Configuration = null): DataFrame =
    // pred sees LOGICAL column names even under name-mode mapping
    readPruned(spark, dir, None, (a, st) => pred(st.logicalPv(a)), conf)

  /** [[read]] with STATS-DRIVEN file skipping on one numeric column:
    * drops files whose per-add stats prove `[lo, hi]` cannot match
    * (maxValues < lo or minValues > hi). Files WITHOUT stats for the
    * column always scan — the safe direction, same rule the txlog
    * backend uses. The returned frame is NOT post-filtered: callers
    * compose their own row predicate; this prunes IO, the zone-map
    * contract, so the one data job reads only possibly-matching files.
    */
  def readRange(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double,
      conf: Configuration = null): DataFrame =
    readPruned(spark, dir, None, (a, st) => a.stats.forall { s =>
      try {
        // stats are keyed by PHYSICAL name under column mapping
        val key = st.physOf.getOrElse(column, column)
        val node = mapper.readTree(s)
        val mn = Option(node.get("minValues")).flatMap(m => Option(m.get(key)))
        val mx = Option(node.get("maxValues")).flatMap(m => Option(m.get(key)))
        (mn, mx) match {
          case (Some(a0), Some(b0)) => b0.asDouble() >= lo && a0.asDouble() <= hi
          case _ => true // no stats for the column: must scan
        }
      } catch { case NonFatal(_) => true } // unreadable stats: must scan
    }, conf)

  private def readPruned(
      spark: SparkSession,
      dir: String,
      version: Option[Long],
      keep: (AddEntry, LogState) => Boolean,
      conf: Configuration = null): DataFrame = {
    val hc = if (conf == null) spark.sessionState.newHadoopConf() else conf
    val root = new Path(dir)
    val fs = root.getFileSystem(hc)
    val state = replayState(spark, fs, root, dir, version)
    val live = mutable.LinkedHashMap.from(state.live.filter(kv => keep(kv._2, state)))
    val partCols = state.partCols
    // the DECLARED schema keeps logical names; the partition-value and
    // stat lookups use physical names. The SCAN resolves columns per
    // mode: name mode requests the physical parquet names; id mode
    // requests LOGICAL names tagged with parquet.field.id metadata and
    // lets Spark's field-id matcher bind them (the parquet column
    // names are arbitrary there); unmapped is the identity of both.
    val mode = state.mappingMode
    val physOf = state.physOf
    val rawSchema = DataType.fromJson(state.schemaString).asInstanceOf[StructType]
    // strip mapping metadata from the OUTPUT schema: readers of the
    // returned frame should see plain logical columns
    val schema = StructType(rawSchema.fields.map(f =>
      StructField(f.name, f.dataType, f.nullable)))
    val scanName: String => String = if (mode == "id") identity else physOf
    // id mode needs spark.sql.parquet.fieldId.read.enabled, which is a
    // SESSION conf (ParquetFileFormat overwrites any per-read option
    // from it). Setting it on the caller's session would silently
    // change parquet resolution for every unrelated read in the
    // session, and set-then-restore races the LAZY conf read at first
    // execution — so the scan is built on a cloned session carrying
    // the flag: HadoopFsRelation pins its creating session and the
    // scan reads the conf from there wherever the frame is composed.
    val scanSession =
      if (mode == "id") {
        val s2 = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(spark)
        s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        s2
      } else spark
    val dataSchema =
      if (mode == "id") {
        val fids = state.fieldIdOf
        StructType(rawSchema.filterNot(f => partCols.contains(f.name)).map(f =>
          StructField(f.name, f.dataType, f.nullable,
            new MetadataBuilder().putLong("parquet.field.id", fids(f.name)).build())))
      } else
        StructType(rawSchema.filterNot(f => partCols.contains(f.name))
          .map(f => StructField(physOf(f.name), f.dataType, f.nullable)))

    if (live.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)

    val adds = live.values.toSeq
    // join key: the ABSOLUTE file path in the URI-ENCODED form Spark's
    // scan reports (_metadata.file_path is a SparkPath: a partition
    // value with a space/'#'/'%' arrives as %XX escapes). The previous
    // scheme stripped the raw root prefix and joined on the DECODED
    // root-relative path — correct for plain paths but silent row loss
    // on encodable characters, since the scan-side remainder stays
    // encoded. Path.toUri.toString reproduces the scan's encoding
    // exactly; absolute paths are unique per file (the log map's key
    // guarantees no duplicates), and basename reuse across partition
    // dirs (Spark reuses part-file names per write task) stays
    // unambiguous because the full path carries the directory.
    val paths = adds.map(a => new Path(root, a.path).toString)
    val dataScanned = scanSession.read.schema(dataSchema).parquet(paths: _*)
      .withColumn("__file", col("_metadata.file_path"))
    // DELETION VECTORS: dead physical row indexes per file. The
    // descriptors are log metadata, but a bitmap can be millions of
    // positions — so each vector decodes in an EXECUTOR task
    // ([[DeletionVectors.positions]]), expanding straight into join
    // rows that never materialize on the driver, then ONE left-anti
    // join ([[FileMeta.dropPositions]]) — the same plan shape as
    // Iceberg position deletes.
    val dvAdds = adds.filter(_.dv.isDefined)
    val data =
      if (dvAdds.isEmpty) dataScanned
      else {
        val rootStr = root.toString
        val ser = new FileMeta.SerializableHadoopConf(hc)
        val descs = dvAdds.map(a =>
          (FileMeta.scanPathKey(fs, new Path(root, a.path)), a.dv.get))
        val delRows = spark.sparkContext
          .parallelize(descs, math.min(descs.size, 256).max(1))
          .flatMap { case (key, d) =>
            DeletionVectors.positions(d, rootStr, ser.value)
              .iterator.map(p => Row(key, p))
          }
        FileMeta.dropPositions(dataScanned, spark.createDataFrame(delRows, StructType(Seq(
          StructField("__file", StringType, nullable = false),
          StructField("__pos", LongType, nullable = false)))))
      }
    FileMeta.fillPartitions(spark, data, schema, partCols,
      adds.map(a => FileMeta.scanPathKey(fs, new Path(root, a.path)) ->
        partCols.map(c => a.partitionValues.getOrElse(physOf.getOrElse(c, c), null))),
      scanName,
      "DeltaBridge: scanned file missing from the log partition map " +
        "(has Spark's _metadata.file_path form changed?): ")
  }
}
