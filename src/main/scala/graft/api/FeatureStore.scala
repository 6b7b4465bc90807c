package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalRows
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructType}

import graft.catalog.{Catalog, Feature, Namespace, TransformSpec}
import graft.ops.TimeseriesOps
import graft.store.{ReadSelection, TimeseriesStore}
import graft.transform.TransformRegistry

/** The user-facing facade, mirroring the reference API surface
  * (`/root/reference/bytehub/_base.py`, Core impls in `core.py`):
  * namespace/feature CRUD, clone, clean, transforms, and the three data
  * verbs `loadDataFrame` / `saveDataFrame` / `last`.
  *
  * Everything data-shaped is a lazy DataFrame plan: a `loadDataFrame`
  * call builds `scan → time-travel filter → last-writer-wins dedup →
  * resample/ffill → align join` as ONE Catalyst plan; nothing executes
  * until the caller acts on it (the reference's dask mode; its pandas
  * mode is simply `.collect()`).
  */
/** Polymorphic feature-list unpacking, mirroring the reference's
  * `_unpack_list` input shapes (`/root/reference/bytehub/_base.py:25-59`,
  * tested at `tests/test_featurestore.py:128-142`): plain names, name
  * lists, dict-style specs, and a DataFrame of specs all normalize to
  * (namespace, name) pairs.
  */
object FeatureStore {
  import Catalog.parseName

  /** The reference's factory dispatch (`__init__.py:33-50`): an
    * http(s) connection string is a hosted catalog — everything else
    * is a local metadata location. Token comes from the environment
    * like the reference's non-interactive mode (`BYTEHUB_TOKEN`,
    * cloud.py:66-77); pass it explicitly to override.
    */
  def connect(
      spark: SparkSession,
      connectionString: String,
      token: Option[String] = None): FeatureStore =
    if (connectionString.startsWith("http")) {
      val t = token.orElse(sys.env.get("GRAFT_CATALOG_TOKEN")).getOrElse(
        throw new FeatureStoreException(
          "cloud catalog needs a refresh token: pass token=... or set GRAFT_CATALOG_TOKEN"))
      new FeatureStore(spark, new graft.catalog.CloudCatalog(connectionString, t))
    } else new FeatureStore(spark, connectionString)

  /** "ns/name" strings or unqualified names + a default namespace. */
  def unpackList(names: Seq[String], namespace: Option[String] = None): Seq[(String, String)] =
    names.map(n => parseName(n, namespace))

  /** Dict-style specs: "name" (required), "namespace" (optional) —
    * like the reference, an unqualified dict name resolves against the
    * DICT's namespace only (_base.py:46-50).
    */
  def unpackSpecs(specs: Seq[Map[String, String]]): Seq[(String, String)] =
    specs.map { m =>
      val n = m.getOrElse("name",
        throw new IllegalArgumentException("feature spec must have a 'name'"))
      parseName(n, m.get("namespace"))
    }

  /** Spec DataFrame with a `name` column and optional `namespace`
    * column; `namespace` arg is the per-row fallback (_base.py:33-41).
    * Collected driver-side — spec frames are metadata-sized.
    *
    * Ordering contract: the returned sequence (and therefore the wide
    * frame's COLUMN ORDER in `loadDataFrame`) follows the spec frame's
    * row order, which Spark only guarantees for locally-constructed
    * frames (`Seq(...).toDF`, `spark.createDataFrame`) — the intended
    * shape, mirroring the reference's order-stable `iterrows`. A spec
    * frame that went through a shuffle or join can return rows in any
    * order; positional consumers must add an explicit ordering column
    * and sort before passing such a frame in.
    */
  def unpackFrame(specs: DataFrame, namespace: Option[String] = None): Seq[(String, String)] = {
    require(specs.columns.contains("name"), "spec DataFrame must have a 'name' column")
    require(specs.schema("name").dataType == StringType,
      s"spec 'name' column must be string, got ${specs.schema("name").dataType.simpleString}")
    val hasNs = specs.columns.contains("namespace")
    if (hasNs) require(specs.schema("namespace").dataType == StringType,
      s"spec 'namespace' column must be string, got ${specs.schema("namespace").dataType.simpleString}")
    specs.collect().toSeq.map { r =>
      val n = r.getAs[String]("name")
      require(n != null, "spec row has a null 'name'")
      val rowNs =
        if (hasNs) Option(r.getAs[String]("namespace")).orElse(namespace) else namespace
      parseName(n, rowNs)
    }
  }

  private[api] def specNames(specs: Seq[Map[String, String]]): Seq[String] =
    unpackSpecs(specs).map { case (ns, n) => s"$ns/$n" }

  private[api] def frameNames(specs: DataFrame, namespace: Option[String]): Seq[String] =
    unpackFrame(specs, namespace).map { case (ns, n) => s"$ns/$n" }
}

class FeatureStore(val spark: SparkSession, val catalog: graft.catalog.CatalogApi) {
  import Catalog.parseName

  /** Local-catalog mode: metadata in a JSON document at `catalogLocation`
    * (the reference's sqlite/SQL CoreFeatureStore). The primary
    * constructor takes any `CatalogApi`, so the same store runs against
    * a `CloudCatalog` (REST, cloud.py:22) with zero compute changes.
    */
  def this(spark: SparkSession, catalogLocation: String) =
    this(spark, new Catalog(catalogLocation, spark.sparkContext.hadoopConfiguration))

  // The driver paths' bound for every namespace's store
  // (TimeseriesStore.driverLoadBytes): stores built later take it too.
  @volatile private var loadBound: Long = TimeseriesStore.DriverLoadBytes

  /** The bound of this facade's stores ([[TimeseriesStore.driverLoadBytes]]). */
  private[graft] def driverLoadBytes: Long = loadBound

  /** Sets the bound on every store of this facade, present and future;
    * <= 0 turns the driver paths off. Specs lower it to pin the Spark
    * path. */
  private[graft] def driverLoadBytes_=(bytes: Long): Unit = {
    loadBound = bytes
    storeCache.values.foreach(_._2.driverLoadBytes = bytes)
  }

  // One store per namespace STATE, not per verb: for namespaces with
  // storageOptions every TimeseriesStore owns cache-bypassing
  // FileSystem.newInstance handles, and rebuilding per operation would
  // leak one set per call on hot endpoint paths. Keyed by the full
  // Namespace value, so a catalog update (credential rotation, url
  // change) swaps in a fresh store and closes the stale one's handles.
  private val storeCache =
    scala.collection.concurrent.TrieMap.empty[String, (Namespace, TimeseriesStore)]

  // Displaced stores are NOT closed inline: the thread that swaps in a
  // fresh store (credential rotation) may be racing another thread still
  // mid-read on the old reference, and close() would yank its FileSystem
  // handles mid-operation. Retired stores park here and are closed on a
  // later store() call once RetireGraceMs has passed — operations
  // outliving the grace window on a rotated-away store keep the
  // (documented) pre-existing hazard, but the common case is safe. A
  // rotation followed by NO further store() traffic parks the handles
  // until `close()` — call it when discarding the FeatureStore.
  private val retiredStores =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, TimeseriesStore)]()
  private val RetireGraceMs = 120000L

  private def drainRetired(): Unit = {
    val cutoff = System.currentTimeMillis() - RetireGraceMs
    var head = retiredStores.peek()
    while (head != null && head._1 <= cutoff) {
      if (retiredStores.remove(head)) head._2.close()
      head = retiredStores.peek()
    }
  }

  private def newStore(ns: Namespace): TimeseriesStore = {
    val st = new TimeseriesStore(spark, ns.url, ns.storageOptions)
    st.driverLoadBytes = loadBound
    st
  }

  private[graft] def store(ns: Namespace): TimeseriesStore = {
    drainRetired()
    while (true) {
      storeCache.get(ns.name) match {
        case Some((cached, st)) if cached == ns => return st
        case None =>
          val st = newStore(ns)
          if (storeCache.putIfAbsent(ns.name, (ns, st)).isEmpty) return st
          st.close() // lost the publish race; nobody ever saw these handles
        case Some(stale) =>
          val st = newStore(ns)
          if (storeCache.replace(ns.name, stale, (ns, st))) {
            retiredStores.add((System.currentTimeMillis(), stale._2))
            return st
          }
          st.close() // another thread swapped first; retry from its value
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Release every FileSystem handle this facade owns: cached stores
    * and rotation-retired stores (grace ignored — the caller asserts no
    * operation is in flight). The cache is NOT poisoned: a later call
    * on an options-bearing namespace transparently rebuilds a store
    * (and fresh handles) through the normal store() path — re-close if
    * the facade is used again. Option-less namespaces are unaffected
    * throughout (their handles come from the shared process FS cache,
    * never closed here).
    */
  def close(): Unit = {
    var head = retiredStores.poll()
    while (head != null) { head._2.close(); head = retiredStores.poll() }
    storeCache.values.foreach(_._2.close())
    storeCache.clear()
  }

  private def namespaceOf(name: String): Namespace =
    catalog.getNamespace(name).getOrElse(
      throw new MissingFeatureException(s"namespace '$name' does not exist"))

  // -------------------------------------------------------------- catalog

  /** Register a namespace whose features live under `url`. Every
    * namespace uses the one log-backed layout
    * ([[graft.store.TimeseriesStore]]); `backend` is recorded in the
    * catalog for the reference API (`spark`, `dask`, `pandas`, `txlog`)
    * and chooses nothing. */
  def createNamespace(
      name: String,
      url: String,
      description: String = "",
      storageOptions: Map[String, String] = Map.empty,
      meta: Map[String, String] = Map.empty,
      backend: String = "spark"): Unit =
    catalog.createNamespace(Namespace(name, url, description, storageOptions, backend, meta))

  def listNamespaces(regex: Option[String] = None): Seq[Namespace] = catalog.listNamespaces(regex)

  /** `storageOptions`, when given, REPLACES the stored map wholesale —
    * the reference facade allows rotating credentials through update
    * (core.py:137-142); subsequent loads pick the new options up via
    * the catalog's freshness stamp.
    */
  def updateNamespace(
      name: String,
      description: Option[String] = None,
      meta: Map[String, Option[String]] = Map.empty,
      storageOptions: Option[Map[String, String]] = None): Unit =
    catalog.updateNamespace(name, description, meta, storageOptions)

  def deleteNamespace(name: String): Unit = catalog.deleteNamespace(name)

  /** GC data directories with no catalog entry (core.py:151-158). */
  def cleanNamespace(name: String): Seq[String] = {
    val ns = namespaceOf(name)
    val st = store(ns)
    val live = catalog.listFeatures(namespace = Some(name)).map(_.name).toSet
    val orphans = st.ls().filterNot(live.contains)
    orphans.foreach(st.delete)
    orphans
  }

  def createFeature(
      fullName: String,
      namespace: Option[String] = None,
      description: String = "",
      partition: String = "date",
      serialized: Boolean = false,
      meta: Map[String, String] = Map.empty): Unit = {
    val (ns, name) = parseName(fullName, namespace)
    catalog.createFeature(Feature(ns, name, description, partition, serialized, meta = meta))
  }

  /** Bulk registration: one metadata transaction (and, in cloud mode,
    * one HTTP round-trip) for the whole list — the deployment-step path
    * for pipelines that register features by the thousand.
    */
  def createFeatures(
      fullNames: Seq[String],
      namespace: Option[String] = None,
      partition: String = "date",
      serialized: Boolean = false): Unit =
    catalog.createFeatures(fullNames.map { fn =>
      val (ns, name) = parseName(fn, namespace)
      Feature(ns, name, partition = partition, serialized = serialized)
    })

  def listFeatures(
      namespace: Option[String] = None,
      regex: Option[String] = None): Seq[Feature] =
    catalog.listFeatures(namespace, regex)

  def updateFeature(
      fullName: String,
      description: Option[String] = None,
      meta: Map[String, Option[String]] = Map.empty): Unit = {
    val (ns, name) = parseName(fullName)
    catalog.updateFeature(ns, name, description, meta)
  }

  def deleteFeature(fullName: String, deleteData: Boolean = false): Unit = {
    val (ns, name) = parseName(fullName)
    val nsObj = namespaceOf(ns)
    catalog.deleteFeature(ns, name)
    if (deleteData) store(nsObj).delete(name)
  }

  /** Metadata clone + data copy (core.py:180-208). */
  def cloneFeature(destFullName: String, srcFullName: String): Unit = {
    val (sNs, sName) = parseName(srcFullName)
    val (dNs, dName) = parseName(destFullName)
    catalog.cloneFeature(sNs, sName, dNs, dName)
    val (sNsObj, f) = featureOf(srcFullName)
    store(sNsObj).copy(sName, dName, store(namespaceOf(dNs)), f.partition)
  }

  /** Collapse a feature's append history to one row per time (optionally
    * only in the given partitions) — bounds the read-side dedup cost the
    * reference pays forever (SURVEY §7.5.3). Partitions already in
    * compacted form are skipped, so a repeated call costs what changed
    * since the last one, not the history: every add a compaction writes
    * carries the log's `dd` flag, and an add without it (any save or
    * other rewrite, or one written before the flag existed) marks its
    * partition for rewriting. See `TimeseriesStore.compact`.
    */
  def compactFeature(fullName: String, partitions: Seq[String] = Nil): Unit = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot compact transformed feature '$fullName'")
    store(nsObj).compact(f.name, partitions)
  }

  /** Re-pack a feature's undersized files into ~targetBytes outputs
    * without changing any row (the OPTIMIZE to `compactFeature`'s
    * dedup). Returns files retired.
    */
  def optimizeFeature(fullName: String, targetBytes: Long = 128L * 1024 * 1024): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot optimize transformed feature '$fullName'")
    store(nsObj).optimize(f.name, targetBytes)
  }

  /** Row-level transactional delete on a stored feature — the GDPR
    * erasure path: predicate over the normalized
    * columns (time, created_time, value, partition); only files with
    * matches rewrite, one atomic commit. Bytes of pre-delete versions
    * persist for time travel until [[vacuumFeature]] — strict erasure
    * is deleteRows + vacuum(0). Returns rows deleted.
    */
  def deleteRows(fullName: String, predicate: Column): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot delete rows of transformed feature '$fullName'")
    store(nsObj).deleteWhere(f.name, predicate)
  }

  /** Row-level transactional UPDATE: rows matching
    * `predicate` take `newValue`; only files with matches rewrite, one
    * atomic commit. Returns rows updated. */
  def updateRows(fullName: String, predicate: Column, newValue: Column): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot update rows of transformed feature '$fullName'")
    store(nsObj).updateWhere(f.name, predicate, newValue)
  }

  /** Widen a stored feature's value type: evolves the
    * TABLE schema and the catalog's pinned value type IN STEP — evolving
    * only the table would leave saveDataFrame preparing batches at the
    * old (narrow) pin and silently truncating before the store could
    * widen them. Old snapshots keep reading the narrow type (see
    * [[graft.store.TimeseriesStore.evolveSchema]]). Returns the
    * committed log version. */
  def evolveFeatureValueType(fullName: String, to: DataType): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot evolve transformed feature '$fullName'")
    require(!f.serialized, s"serialized feature '$fullName' already stores schema-free JSON")
    val v = store(nsObj).evolveValueType(f.name, to)
    val (ns, name) = parseName(fullName)
    catalog.pinValueType(ns, name, to.json)
    v
  }

  /** Declare (or replace) a named CHECK constraint on a stored
    * feature: every future save/merge batch must satisfy the boolean
    * SQL expression on every row or the write is rejected
    * before anything becomes visible; existing rows are validated at
    * declaration time. Declare "true" to drop. */
  def addFeatureCheck(fullName: String, constraintName: String, boolExpr: String): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot constrain transformed feature '$fullName'")
    store(nsObj).addCheck(f.name, constraintName, boolExpr)
  }

  /** Active CHECK constraints on a stored feature, declaration order. */
  def featureChecks(fullName: String): Seq[(String, String)] = {
    val (nsObj, f) = featureOf(fullName)
    store(nsObj).tableChecks(f.name)
  }

  /** Lakehouse RESTORE: roll a stored feature back to
    * table version `v` as a NEW commit — the undo button for a bad
    * merge/delete/append; original bytes, nothing rewritten, itself
    * time-travelable. Fails loudly if vacuum already reclaimed v's
    * files. Returns the new table version. */
  def restoreFeature(fullName: String, version: Long): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot restore transformed feature '$fullName'")
    store(nsObj).restore(f.name, version)
  }

  /** Lakehouse MERGE: physical upsert keyed on `time` —
    * matched times collapse to the source rows, unseen times insert,
    * one atomic commit, only matched files rewrite. The in-place
    * alternative to save()'s append+LWW for reference-style features
    * where generation history is noise. Returns (updatedTimes,
    * insertedRows). */
  def mergeFeature(fullName: String, source: DataFrame): (Long, Long) = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot merge into transformed feature '$fullName'")
    store(nsObj).mergeInto(f.name, source, f.partition)
  }

  /** Rows added between two table versions (CDC-lite) —
    * incremental downstream consumption without a table re-scan.
    *
    * The feed is ADD-ONLY: a file rewritten by [[deleteRows]] /
    * [[updateRows]] surfaces its whole post-image as adds, and row
    * DELETIONS are never propagated as change records — a consumer that
    * materialized rows from an earlier version keeps them even after
    * they are erased upstream. Strict-erasure consumers (GDPR
    * downstreams) must re-read the full snapshot at the new version
    * (`loadFeature` AS OF), not patch from this feed; upsert-style
    * consumers keyed on (time, created_time) get last-writer-wins
    * semantics from the rewritten adds but still retain erased keys. */
  def readFeatureChanges(fullName: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val (nsObj, f) = featureOf(fullName)
    store(nsObj).readChanges(f.name, fromVersion, toVersion, valueTypeOf(f))
  }

  /** Current table version of a stored feature. */
  def featureVersion(fullName: String): Long = {
    val (nsObj, f) = featureOf(fullName)
    store(nsObj).tableVersion(f.name)
  }

  /** AS OF TIMESTAMP → table version: the version the
    * table had at the wall-clock instant; compose with the
    * version-taking read/changes APIs. */
  def featureVersionAt(fullName: String, at: java.sql.Timestamp): Long = {
    val (nsObj, f) = featureOf(fullName)
    store(nsObj).versionAt(f.name, at.getTime)
  }

  /** Export a feature's snapshot (optionally version-pinned) as a
    * plain hive-partitioned parquet tree + manifest any engine reads
    * without graft — the open-format bridge out of the txlog
    * warehouse ([[graft.store.TimeseriesStore.exportSnapshot]]).
    * Returns the exported version. */
  def exportFeature(fullName: String, dstDir: String,
                    asOfVersion: Option[Long] = None): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot export transformed feature '$fullName'")
    store(nsObj).exportSnapshot(f.name, dstDir, asOfVersion)
  }

  /** Import an exported tree (or any plain `partition=`-layout parquet)
    * as a NEW stored feature — the inverse bridge; one atomic commit.
    * Returns the committed version. */
  def importFeature(fullName: String, srcDir: String): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot import into transformed feature '$fullName'")
    store(nsObj).importSnapshot(f.name, srcDir)
  }

  /** [[exportFeature]] plus a Delta-protocol `_delta_log`, so any Delta
    * reader opens the export as a table
    * ([[graft.store.TimeseriesStore.exportSnapshotDelta]]). */
  def exportFeatureDelta(fullName: String, dstDir: String,
                         asOfVersion: Option[Long] = None): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot export transformed feature '$fullName'")
    store(nsObj).exportSnapshotDelta(f.name, dstDir, asOfVersion)
  }

  /** Publish txlog commits landed since the last export/sync as ONE
    * incremental Delta commit on an [[exportFeatureDelta]] tree —
    * continuous open-format publication; no-ops when the feature
    * hasn't moved ([[graft.store.TimeseriesStore.syncSnapshotDelta]]). */
  def syncFeatureDelta(fullName: String, dstDir: String,
                       checkpointEvery: Int = 10): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot sync transformed feature '$fullName'")
    store(nsObj).syncSnapshotDelta(f.name, dstDir, checkpointEvery)
  }

  /** [[exportFeature]] plus Iceberg v2 table metadata, so any Iceberg
    * reader (Spark+iceberg-runtime, Trino, DuckDB-iceberg, pyiceberg)
    * opens the export natively
    * ([[graft.store.TimeseriesStore.exportSnapshotIceberg]]). */
  def exportFeatureIceberg(fullName: String, dstDir: String,
                           asOfVersion: Option[Long] = None): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot export transformed feature '$fullName'")
    store(nsObj).exportSnapshotIceberg(f.name, dstDir, asOfVersion)
  }

  /** Publish txlog commits landed since the last export/sync as ONE
    * new Iceberg snapshot on an [[exportFeatureIceberg]] tree —
    * [[syncFeatureDelta]]'s twin for Iceberg warehouses; no-ops when
    * the feature hasn't moved
    * ([[graft.store.TimeseriesStore.syncSnapshotIceberg]]). */
  def syncFeatureIceberg(fullName: String, dstDir: String): Long = {
    val (nsObj, f) = featureOf(fullName)
    require(f.transform.isEmpty, s"cannot sync transformed feature '$fullName'")
    store(nsObj).syncSnapshotIceberg(f.name, dstDir)
  }

  /** Garbage-collect data files retired by compaction and rewrites:
    * those retire files logically (readers with older snapshots keep
    * working) and vacuum reclaims the bytes; returns the number of
    * files deleted.
    */
  def vacuumFeature(fullName: String, retentionMs: Long = 3600000L): Long = {
    val (nsObj, f) = featureOf(fullName)
    store(nsObj).vacuum(f.name, retentionMs)
  }

  /** OPTIMIZE ZORDER for a stored feature: rewrite its
    * live files clustered on the (day, value) Morton key so ranged
    * reads skip files on time AND [[loadFeatureValueRange]] skips on
    * value. Rows are unchanged; old versions stay time-travelable
    * until vacuum. Returns files retired. */
  def optimizeZorderFeature(fullName: String, bits: Int = 16): Long = {
    val (nsObj, f) = featureOf(fullName)
    store(nsObj).optimizeZorder(f.name, bits)
  }

  /** One-call table maintenance — the nightly verb:
    * re-pack small files (`zorder = true` instead runs the z-clustered
    * FULL rewrite, refreshing value locality after a day of appends),
    * then vacuum bytes retired longer than `retentionMs` ago. Returns
    * (filesRepacked, filesVacuumed). Each step is its own atomic
    * commit; a failure between them leaves a consistent table that the
    * next run simply finishes. At 100 TB this is the scheduled job
    * that keeps a micro-batch-fed feature readable: bounded file
    * counts, tight per-file stats, reclaimed history.
    */
  def maintainFeature(
      fullName: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorder: Boolean = false,
      retentionMs: Long = 3600000L): (Long, Long) = {
    val (nsObj, f) = featureOf(fullName)
    val st = store(nsObj)
    val repacked =
      if (zorder) st.optimizeZorder(f.name, targetBytes = targetBytes)
      else st.optimize(f.name, targetBytes)
    (repacked, st.vacuum(f.name, retentionMs))
  }

  /** One-pass profile of EVERY plain numeric feature in a namespace:
    * the tagged union of all series through one grouped moment
    * aggregation + one grouped quantile sketch — N features cost ONE
    * job, not N [[describeFeature]] calls (each its own Spark job and
    * its own full scan scheduling overhead). Returns one row per
    * feature: (feature, n, mean, std, min, max, p50). Serialized,
    * transformed, and non-double features are skipped (their profile
    * is not a number); an empty namespace yields an empty frame with
    * the same schema.
    */
  def profileNamespace(namespace: String): DataFrame = {
    val feats = listFeatures(Some(namespace)).filter(f =>
      f.transform.isEmpty && !f.serialized && valueTypeOf(f) == DoubleType)
    val empty = spark.sql(
      """SELECT CAST(NULL AS STRING) AS feature, 0L AS n, CAST(NULL AS DOUBLE) AS mean,
        |  CAST(NULL AS DOUBLE) AS std, CAST(NULL AS DOUBLE) AS min,
        |  CAST(NULL AS DOUBLE) AS max, CAST(NULL AS DOUBLE) AS p50
        |WHERE FALSE""".stripMargin)
    if (feats.isEmpty) return empty
    val tagged = feats.map { f =>
      loadSeries(f.fullName, None, None, None, clipFrom = true, Nil)
        .select(lit(f.name).as("feature"), col("value").cast("double").as("value"))
    }.reduce(_ unionByName _)
    val v = col("value").cast("decimal(18,2)")
    val n = count(lit(1))
    val moments = tagged.groupBy(col("feature")).agg(
      n.as("n"),
      (sum(v).cast("double") / n).as("mean"),
      when(n > 1, sqrt(
        (sum((v * v).cast("decimal(28,4)")).cast("double") * n -
          sum(v).cast("double") * sum(v).cast("double")) /
          (n * (n - 1)).cast("double"))).as("std"),
      min(col("value")).as("min"),
      max(col("value")).as("max"))
    val p50 = graft.functions.QuantileSketch.quantiles(
      graft.functions.QuantileSketch.sketch(tagged, Seq("feature"), col("value")),
      Seq("feature"), Seq(("p50", 1, 2))).select(col("feature"), col("p50"))
    moments.join(p50, Seq("feature"))
      .select(col("feature"), col("n"), col("mean"), col("std"),
        col("min"), col("max"), col("p50"))
  }

  /** Metadata-only table statistics: one row
    * (n, tmin, tmax, vmin, vmax) — exact stored-row count, event-time
    * bounds, and value bounds answered from the transaction log alone,
    * ZERO Spark jobs and zero file opens (Delta's numRecords fast
    * path; at 100 TB, an O(1) driver answer where the aggregate is a
    * full scan). Falls back to the scan-based aggregate when any live
    * file predates the stats upgrade (or stores a non-numeric value) —
    * callers always get the right numbers, just not always the fast
    * way. Counts STORED rows (every generation the log references);
    * dedup-latest logical counts are a read-side concern.
    */
  def featureTableStats(fullName: String): DataFrame = {
    val (nsObj, f) = featureOf(fullName)
    val st = store(nsObj)
    st.tableStatsFast(f.name) match {
      case Some(s) if s.tminMicros.nonEmpty && s.tmaxMicros.nonEmpty &&
          s.vmin.nonEmpty && s.vmax.nonEmpty =>
        // Double.toString round-trips exactly (shortest repr), so the
        // literal re-parses to the identical IEEE value
        spark.sql(
          s"""SELECT ${s.rows}L AS n, timestamp_micros(${s.tminMicros.get}L) AS tmin,
             |  timestamp_micros(${s.tmaxMicros.get}L) AS tmax,
             |  CAST(${s.vmin.get} AS DOUBLE) AS vmin,
             |  CAST(${s.vmax.get} AS DOUBLE) AS vmax""".stripMargin)
      case Some(s) if s.rows == 0L =>
        spark.sql(
          """SELECT 0L AS n, CAST(NULL AS TIMESTAMP) AS tmin, CAST(NULL AS TIMESTAMP) AS tmax,
            |  CAST(NULL AS DOUBLE) AS vmin, CAST(NULL AS DOUBLE) AS vmax""".stripMargin)
      case _ =>
        st.read(f.name, valueType = pinnedType(f), partitionStyle = f.partition)
          .agg(count(lit(1)).as("n"),
            min(col("time")).as("tmin"), max(col("time")).as("tmax"),
            min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    }
  }

  /** Value-predicate scan with file skipping: rows of
    * `fullName` whose value lies in [vlo, vhi] — on a z-ordered table
    * only the files whose recorded value bounds intersect the range
    * are opened; on an append layout it degrades to a plain ranged
    * read. Returns (time, created_time, value). */
  def loadFeatureValueRange(
      fullName: String,
      vlo: Double,
      vhi: Double,
      fromDate: Option[Timestamp] = None,
      toDate: Option[Timestamp] = None): DataFrame = {
    val (nsObj, f) = featureOf(fullName)
    store(nsObj).readValueRange(f.name, vlo, vhi, fromDate, toDate)
  }

  // ----------------------------------------------------------- transforms

  /** Declare a virtual feature computed by a SQL expression over its arg
    * features; args appear as columns `f0..fN` in declaration order.
    * e.g. `transformSql("t/squared", Seq("t/raw"), "f0 * f0")`.
    */
  def transformSql(fullName: String, fromFeatures: Seq[String], sqlExpr: String): Unit =
    declareTransform(fullName, TransformSpec("sql", sqlExpr, fromFeatures))

  /** Declare a virtual feature backed by a registered function key. */
  def transformFn(fullName: String, fromFeatures: Seq[String], registryKey: String): Unit =
    declareTransform(fullName, TransformSpec("registry", registryKey, fromFeatures))

  private def declareTransform(fullName: String, spec: TransformSpec): Unit = {
    val (ns, name) = parseName(fullName)
    catalog.getFeature(ns, name) match {
      case Some(_) => catalog.updateFeature(ns, name, transform = Some(spec))
      case None    => catalog.createFeature(Feature(ns, name, transform = Some(spec)))
    }
  }

  // ------------------------------------------------------------ data verbs

  private def featureOf(full: String): (Namespace, Feature) = {
    val (ns, name) = parseName(full)
    val nsObj = namespaceOf(ns)
    val f = catalog.getFeature(ns, name).getOrElse(
      throw new MissingFeatureException(s"feature '$full' does not exist"))
    (nsObj, f)
  }

  /** The stored value type the catalog pins for `f` — serialized
    * features always store JSON strings — or None before the first real
    * save. Reads take their schema from the feature's log; this types
    * the empty envelope of a feature with no data yet. */
  private def pinnedType(f: Feature): Option[DataType] =
    if (f.serialized) Some(StringType) else f.valueType.map(DataType.fromJson)

  private def valueTypeOf(f: Feature): DataType = pinnedType(f).getOrElse(DoubleType)

  /** One feature's deduped (time, value) series; recursive for transforms
    * with cycle detection (_model.py:186-228). `clipFrom` is deferred when
    * the caller needs pre-range rows as the forward-fill seed (J3).
    * `selection` is the caller's own log selection of a stored feature
    * over [from, to] (a clipped load), opened instead of a new one.
    */
  private def loadSeries(
      full: String,
      from: Option[Timestamp],
      to: Option[Timestamp],
      timeTravel: Option[String],
      clipFrom: Boolean,
      callers: Seq[String],
      asOfVersion: Option[Long] = None,
      selection: Option[ReadSelection] = None): DataFrame = {
    if (callers.contains(full))
      throw new IllegalStateException(
        s"circular transform dependency: ${(callers :+ full).mkString(" -> ")}")
    val (nsObj, f) = featureOf(full)
    f.transform match {
      case Some(spec) =>
        val argDfs = spec.args.zipWithIndex.map { case (arg, i) =>
          loadSeries(arg, from, to, timeTravel, clipFrom, callers :+ full, asOfVersion)
            .withColumnRenamed("value", s"f$i")
        }
        val wide = TimeseriesOps.alignJoin(argDfs)
        val out = spec.kind match {
          case "sql"      => wide.withColumn("value", expr(spec.body))
          case "registry" => TransformRegistry.get(spec.body)(wide)
          case other => throw new IllegalArgumentException(s"unknown transform kind: $other")
        }
        out.select("time", "value")
      case None =>
        // Widen-from-last (the reference's seed-scan pruning,
        // dask.py:142-148, Spark-first): a deferred-clip load needs
        // pre-range rows ONLY as the fill seed — the LAST surviving row
        // before `from`. Resolve that row's time with the log-driven
        // endpoint search (see [[lastTimeBefore]]) and lower-bound the
        // real scan at it, so a resample over the last week of a
        // years-deep feature scans days, not history. asOfVersion reads
        // keep the unbounded seed scan: the search reads the LATEST
        // snapshot, which an old version need not match.
        val effFrom =
          if (clipFrom) from
          else if (asOfVersion.isDefined) None
          else from.map(f0 => lastTimeBefore(nsObj, f, f0, timeTravel).getOrElse(f0))
        val st = store(nsObj)
        val sel = selection.getOrElse(st.select(f.name, effFrom, to, f.partition, asOfVersion))
        postProcess(st.open(sel, pinnedType(f)), f, timeTravel)
    }
  }

  /** Shared read-side pipeline: time travel -> last-writer-wins dedup ->
    * serialized-envelope unwrap (reference deserializes on load,
    * dask.py:123-131). The endpoint lookups run the same travel (in the
    * store's search) and the same unwrap around the
    * [[TimeseriesOps.endpointRow]] winner, which is the dedup's winner
    * (see [[endpointLookup]]).
    */
  private def postProcess(
      raw: DataFrame,
      f: Feature,
      timeTravel: Option[String]): DataFrame =
    unwrap(TimeseriesOps.dedupLatest(travel(raw, timeTravel)), f)

  private def travel(raw: DataFrame, timeTravel: Option[String]): DataFrame =
    timeTravel.map(d => TimeseriesOps.timeTravel(raw, d)).getOrElse(raw)

  private def unwrap(deduped: DataFrame, f: Feature): DataFrame =
    (if (f.serialized) deduped.withColumn("value", get_json_object(col("value"), "$.v"))
     else deduped).select("time", "value")

  /** [[unwrap]] over rows the driver holds, compiled once per shape by
    * the store that read them. */
  private def unwrapRows(st: TimeseriesStore, deduped: LocalRows, f: Feature): LocalRows = {
    val plan = st.localPlan(deduped.schema, ("unwrap", f.serialized))(unwrap(_, f))
    LocalRows(plan.schema, plan(deduped.rows.iterator).toVector)
  }

  /** Flagship read (core.py:246-276): wide frame, one column per feature
    * named `namespace/name`, outer-joined on time and forward-filled;
    * optional resample onto a regular [from, to] grid step `freq`.
    * `asOfVersion` time-travels by TABLE version: the load resolves
    * every requested feature, including transform arguments, at that
    * snapshot of its log.
    *
    * A small load is served on the driver with no Spark job: when there
    * is no `freq`, every feature is stored (no transform), and the
    * files the logs select for the range — one replay per feature —
    * decode, by the log's row counts, to at most
    * [[TimeseriesStore.DriverLoadBytes]] (1 MB) together. The driver
    * reads those files, applies the travel and the dedup
    * ([[graft.store.TimeseriesStore.latestOnDriver]]) and the unwrap
    * as rows, and aligns the series with [[TimeseriesOps.alignLocal]]
    * into the one frame it builds: a local frame equal, row for row and
    * in schema, to the Spark path's. A
    * selection over the bound, or one with a file the log records no
    * row count for (an unreadable footer), takes the Spark path, which opens the same
    * selections; so do resampled loads, transforms and
    * [[trainingFrame]].
    */
  def loadDataFrame(
      features: Seq[String],
      fromDate: Option[Timestamp] = None,
      toDate: Option[Timestamp] = None,
      freq: Option[String] = None,
      timeTravel: Option[String] = None,
      asOfVersion: Option[Long] = None,
      fill: String = "ffill"): DataFrame = {
    require(features.nonEmpty, "no features requested")
    // fill picks the resample kernel (extension; the reference is
    // ffill-only): "interpolate" = time-weighted linear between
    // neighbors (numeric values only — a non-numeric feature fails
    // loudly inside the kernel), "ffill" = carry-forward. Boundary
    // semantics under "interpolate": the scan stays clipped at toDate
    // (the same bounded read as ffill — no unbounded tail scan hunting
    // a next neighbor), so grid points after the last in-range data
    // point carry flat — pandas' clip-then-interpolate shape
    require(Set("ffill", "bfill", "interpolate").contains(fill),
      s"fill must be 'ffill', 'bfill' or 'interpolate', got '$fill'")
    require(fill == "ffill" || freq.isDefined, s"fill='$fill' needs a freq grid")
    val stored =
      if (freq.isEmpty) storedSelections(features, fromDate, toDate, asOfVersion)
      else Map.empty[String, (Feature, TimeseriesStore, ReadSelection)]
    val decoded = stored.values.map(_._3.decodedBytes)
      .foldLeft(Option(0L))((sum, d) => for (a <- sum; b <- d) yield a + b)
    if (stored.nonEmpty && stored.values.forall(_._2.fitsDriver(decoded)))
      return TimeseriesOps.alignLocal(spark, features.map { full =>
        val (f, st, sel) = stored(full)
        val series = unwrapRows(st, st.latestOnDriver(sel, timeTravel, pinnedType(f)), f)
        series.copy(schema = StructType(series.schema.map(c =>
          if (c.name == "value") c.copy(name = full) else c)))
      })
    val series = features.map { full =>
      val s = loadSeries(full, fromDate, toDate, timeTravel, clipFrom = freq.isEmpty, Nil,
        asOfVersion, stored.get(full).map(_._3))
      freq match {
        case Some(fq) =>
          // per-feature range defaults from its own bounds (dask.py:150-153)
          val (mn, mx) = (fromDate, toDate) match {
            case (Some(_), Some(_)) => (None, None) // no bounds job needed
            case _                  => TimeseriesOps.timeBounds(s)
          }
          fromDate.orElse(mn) match {
            case None =>
              // empty feature with no explicit start: contribute an
              // EMPTY grid — defaulting to the epoch would inject a
              // bogus 1970-01-01 null row into the wide result
              s
            case Some(lo) =>
              val hi = toDate.orElse(mx).getOrElse(lo)
              // to < from clamps to a single grid point (dask.py:154-155)
              val hiClamped = if (hi.before(lo)) lo else hi
              fill match {
                case "interpolate" =>
                  TimeseriesOps.resampleInterpolated(s, lo, hiClamped, fq, Seq("value"))
                case "bfill" =>
                  TimeseriesOps.resample(s, lo, hiClamped, fq, Seq("value"), backfill = true)
                case _ =>
                  TimeseriesOps.resample(s, lo, hiClamped, fq, Seq("value"))
              }
          }
        case None => s
      }
    }
    val renamed = series.zip(features).map { case (s, full) =>
      s.withColumnRenamed("value", full)
    }
    val wide = TimeseriesOps.alignJoin(renamed)
    // when not resampling, rows outside [from, to] were already clipped at
    // scan time; resampled grids are exactly [from, to] by construction
    wide
  }

  /** One log selection over [from, to] per requested feature, with the
    * feature and its store, keyed by full name — or none at all when a
    * feature is a transform. */
  private def storedSelections(
      features: Seq[String],
      from: Option[Timestamp],
      to: Option[Timestamp],
      asOfVersion: Option[Long]): Map[String, (Feature, TimeseriesStore, ReadSelection)] = {
    val resolved = features.map(full => full -> featureOf(full))
    if (resolved.exists(_._2._2.transform.isDefined)) Map.empty
    else resolved.map { case (full, (nsObj, f)) =>
      val st = store(nsObj)
      full -> ((f, st, st.select(f.name, from, to, f.partition, asOfVersion)))
    }.toMap
  }

  /** Single-feature convenience overload. */
  def loadDataFrame(
      feature: String,
      fromDate: Option[Timestamp],
      toDate: Option[Timestamp]): DataFrame =
    loadDataFrame(Seq(feature), fromDate, toDate)

  /** Dict-style selection (the reference's list-of-dicts input shape,
    * _base.py:42-52): each spec carries "name" and optionally
    * "namespace" (an unqualified name resolves against the spec's own
    * namespace, like the reference — the call has no outer default).
    */
  def loadDataFrameSpecs(
      specs: Seq[Map[String, String]],
      fromDate: Option[Timestamp] = None,
      toDate: Option[Timestamp] = None,
      freq: Option[String] = None,
      timeTravel: Option[String] = None): DataFrame =
    loadDataFrame(FeatureStore.specNames(specs), fromDate, toDate, freq, timeTravel)

  /** Spec-DataFrame selection (the reference's DataFrame input shape,
    * _base.py:33-41): a metadata-sized frame with a `name` column and
    * optional `namespace` column, collected driver-side exactly like
    * the reference's iterrows.
    */
  def loadDataFrame(
      specs: DataFrame,
      fromDate: Option[Timestamp],
      toDate: Option[Timestamp],
      freq: Option[String],
      timeTravel: Option[String],
      namespace: Option[String]): DataFrame =
    loadDataFrame(FeatureStore.frameNames(specs, namespace),
      fromDate, toDate, freq, timeTravel)

  /** Spec-DataFrame selection with defaults. */
  def loadDataFrame(specs: DataFrame): DataFrame =
    loadDataFrame(specs, None, None, None, None, None)

  /** Typed load of a `serialized` feature: parses the JSON value text
    * into `valueSchema` — the schema-on-read half of P7 (the reference
    * gets typed objects back from json.loads, dask.py:123-131; a static
    * engine asks the caller for the expected shape).
    */
  def loadDataFrameTyped(
      feature: String,
      valueSchema: DataType,
      fromDate: Option[Timestamp] = None,
      toDate: Option[Timestamp] = None): DataFrame = {
    val (_, f) = featureOf(feature)
    require(f.serialized, s"'$feature' is not a serialized feature")
    loadDataFrame(Seq(feature), fromDate, toDate)
      .withColumn(feature, from_json(col(s"`$feature`"), valueSchema))
  }

  /** Single-feature point lookup. */
  def last(feature: String): Option[Any] = last(Seq(feature))(feature)

  /** Backfill: evaluate a virtual (transformed) feature over a range
    * and persist the result as a real stored feature — trading the
    * per-read DAG evaluation for storage, the standard materialization
    * step before serving a derived feature at scale.
    */
  def materializeFeature(
      sourceFull: String,
      targetFull: String,
      fromDate: Option[Timestamp] = None,
      toDate: Option[Timestamp] = None): Unit = {
    // clipFrom=true applies both bounds at scan time already
    val series = loadSeries(sourceFull, fromDate, toDate, None, clipFrom = true, Nil)
    saveDataFrame(series, name = Some(targetFull))
  }

  /** Point-in-time-correct training frame: for every labeled example
    * (a row with a `time` column), attach each feature's value AS OF
    * that example's time — never a later observation, so no target
    * leakage. `timeTravel` additionally restricts to what was KNOWN at
    * ingestion time (created_time), reproducing the training data an
    * online system would actually have had.
    */
  def trainingFrame(
      labels: DataFrame,
      features: Seq[String],
      timeTravel: Option[String] = None): DataFrame = {
    require(labels.columns.contains("time"), "labels need a 'time' column")
    // align all features FIRST (one shuffle on the pivot path), then a
    // single as-of pass: the wide frame carries every feature's running
    // value at each observation time, so its as-of row at a label time
    // equals each feature's own as-of value — versus N chained as-of
    // joins. The un-keyed as-of itself runs bucketed (parallel across
    // time buckets with broadcast boundary seeds, TimeseriesOps.asofJoin
    // -> ffillBucketed), never as one global-sort task.
    val series = features.map { full =>
      loadSeries(full, None, None, timeTravel, clipFrom = true, Nil)
        .withColumnRenamed("value", full)
    }
    val wide = TimeseriesOps.alignJoin(series)
    // the wide frame is one row per time by construction (align pivots /
    // outer-joins on time), so the as-of can skip its duplicate-collapse
    // aggregate — and with it a full extra exchange of the wide frame
    TimeseriesOps.asofJoin(labels, wide, rightValueCols = features, rightUnique = true)
  }

  /** Write path (core.py:278-313). Accepts:
    *  - `time` + `value` (+ optional `created_time`) with `name` given;
    *  - `time` + single `namespace/feature` column (auto-named);
    *  - `time` + many `namespace/feature` columns → per-column fan-out.
    */
  def saveDataFrame(
      df: DataFrame,
      name: Option[String] = None,
      namespace: Option[String] = None): Unit = {
    val envelope = Set("time", "created_time")
    val dataCols = df.columns.filterNot(envelope.contains).toSeq
    if (dataCols == Seq("value")) {
      val full = name.getOrElse(throw new IllegalArgumentException(
        "name= is required when saving a raw 'value' column"))
      saveOne(full, namespace, df)
    } else if (dataCols.size == 1) {
      // same null handling as the multi-column fan-out below: a null
      // cell in a wide frame means "no observation for this feature at
      // this time", and appending it would SHADOW the stored value via
      // last-writer-wins dedup on the next read. (The raw `value` path
      // above keeps nulls — there the caller addressed the envelope
      // explicitly.)
      saveOne(dataCols.head, namespace, df.withColumnRenamed(dataCols.head, "value")
        .filter(col("value").isNotNull))
    } else {
      dataCols.foreach { c =>
        val cols = df.columns.filter(x => envelope.contains(x) || x == c).map(col).toSeq
        saveOne(c, namespace, df.select(cols: _*).withColumnRenamed(c, "value")
          .filter(col("value").isNotNull))
      }
    }
  }

  private def saveOne(full: String, namespace: Option[String], df: DataFrame): Unit = {
    val (ns, nm) = parseName(full, namespace)
    val (nsObj, f) = featureOf(s"$ns/$nm")
    require(f.transform.isEmpty, s"cannot save data to transformed feature '$full'")
    val prepared =
      if (f.serialized) df.withColumn("value", to_json(struct(col("value").as("v"))))
      else df
    val vt = prepared.schema("value").dataType
    f.valueType.filter(_ => !f.serialized).foreach { json =>
      require(DataType.fromJson(json) == vt,
        s"schema change on append to '$full': stored ${json}, got ${vt.json} " +
          "(create the feature with serialized=true to allow drift)")
    }
    // pin only once the store has committed: an empty first batch (a
    // no-op) must not permanently pin a wrong or NullType and reject
    // every future real append — there is no facade API to unpin — and
    // a save the store refuses (legacy tree, CHECK violation) must
    // leave the catalog as it was
    if (store(nsObj).save(nm, prepared, f.partition) && f.valueType.isEmpty)
      catalog.pinValueType(ns, nm, vt.json)
  }

  /** Point lookup for inference (core.py:315-331): last value per feature,
    * transforms evaluated at the tail (tested test_featurestore.py:665-672).
    *
    * A stored (untransformed) feature is served from its log (see
    * [[endpointLookup]]): one replay picks the files whose recorded
    * `tmax` can hold the newest row — without timeTravel, the files at
    * the maximum, one in the common case — and the driver reads them
    * with Spark's parquet reader, so the lookup starts no Spark job and
    * opens O(1) files however long the history. Transformed features
    * fall back to the full DAG load and one top-1 job.
    */
  def last(features: Seq[String], timeTravel: Option[String] = None): Map[String, Option[Any]] =
    endpoint(features, timeTravel, fromTail = true)

  /** Mirror of `last()` at the head of each series (Store.first,
    * _storage/_base.py:33-39): the same search ordered by each file's
    * `tmin`.
    */
  def first(features: Seq[String], timeTravel: Option[String] = None): Map[String, Option[Any]] =
    endpoint(features, timeTravel, fromTail = false)

  /** Distributed `describe()` for a NUMERIC feature — the summary the
    * reference leaves to client-side pandas after a full download
    * (`load_dataframe(...).describe()`), re-expressed as ONE moment
    * aggregation plus the mergeable quantile sketch, so at 100 TB the
    * driver receives eight numbers instead of the table. Returns one
    * row: (n, mean, std, min, max, p25, p50, p75).
    *
    * Determinism contract (the repo doctrine): mean/std come from
    * exact decimal moment sums closed by identical IEEE ops (std is
    * one correctly-rounded sqrt); quantiles are the log-linear
    * sketch's nearest-rank edges — every value reproduces bit-for-bit
    * at any parallelism. std is sample (n-1) and NULL for n <= 1,
    * min/max are the raw doubles. 2-decimal values are exact in
    * decimal(18,2); wider payloads need a wider cast, not a different
    * method.
    */
  def describeFeature(
      fullName: String,
      fromDate: Option[Timestamp] = None,
      toDate: Option[Timestamp] = None): DataFrame = {
    val series = loadSeries(fullName, fromDate, toDate, None, clipFrom = true, Nil)
      .select(col("value").cast("double").as("value"))
    val v = col("value").cast("decimal(18,2)")
    val n = count(lit(1))
    val moments = series.agg(
      n.as("n"),
      (sum(v).cast("double") / n).as("mean"),
      when(n > 1, sqrt(
        (sum((v * v).cast("decimal(28,4)")).cast("double") * n -
          sum(v).cast("double") * sum(v).cast("double")) /
          (n * (n - 1)).cast("double"))).as("std"),
      min(col("value")).as("min"),
      max(col("value")).as("max"))
    val qs = graft.functions.QuantileSketch.quantiles(
      graft.functions.QuantileSketch.sketch(series, Nil, col("value")),
      Nil, Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4))).drop("n")
    moments.crossJoin(qs) // 1-row x 1-row
  }

  // polymorphic selections for the endpoint verbs — the reference's
  // last() runs the same _unpack_list shapes as load (core.py:315-331);
  // the namespace overloads keep name-only spec frames valid on every
  // verb, exactly as on loadDataFrame
  def lastSpecs(specs: Seq[Map[String, String]]): Map[String, Option[Any]] =
    last(FeatureStore.specNames(specs))
  def last(specs: DataFrame): Map[String, Option[Any]] = last(specs, None)
  def last(specs: DataFrame, namespace: Option[String]): Map[String, Option[Any]] =
    last(FeatureStore.frameNames(specs, namespace))
  def firstSpecs(specs: Seq[Map[String, String]]): Map[String, Option[Any]] =
    first(FeatureStore.specNames(specs))
  def first(specs: DataFrame): Map[String, Option[Any]] = first(specs, None)
  def first(specs: DataFrame, namespace: Option[String]): Map[String, Option[Any]] =
    first(FeatureStore.frameNames(specs, namespace))

  private def endpoint(
      features: Seq[String],
      timeTravel: Option[String],
      fromTail: Boolean): Map[String, Option[Any]] =
    features.map { full =>
      val (nsObj, f) = featureOf(full)
      val row = f.transform match {
        case Some(_) =>
          val df = loadSeries(full, None, None, timeTravel, clipFrom = true, Nil)
          TimeseriesOps.endpointRow(df, fromTail).collect().headOption
        case None => endpointLookup(nsObj, f, timeTravel, fromTail)._1
      }
      full -> row.map(_.get(1)).filter(_ != null)
    }.toMap

  /** Endpoint point-lookup on a stored feature: the store's log-driven
    * search ([[graft.store.TimeseriesStore.endpoint]]) applies the
    * travel filter and picks [[TimeseriesOps.endpointRow]]'s winner,
    * then the serialized unwrap runs on that one row, and the row is
    * converted as `collect()` would, with no Dataset built. Returns the
    * (time, value) row and the files the search read (so specs can pin
    * the read amplification).
    *
    * Without timeTravel the files whose `tmax` is the newest settle the
    * lookup. Under timeTravel a masked tail widens file tier by file
    * tier until the best surviving row is newer than every unread
    * file's `tmax` — the bound the log records per file, in place of
    * the partition-value skew argument the old 3 → 9 → all ladder
    * needed.
    */
  private[graft] def endpointLookup(
      nsObj: Namespace,
      f: Feature,
      timeTravel: Option[String],
      fromTail: Boolean): (Option[org.apache.spark.sql.Row], graft.store.EndpointReads) = {
    val st = store(nsObj)
    val (winner, reads) = st.endpoint(f.name, fromTail, timeTravel, valueType = pinnedType(f))
    val row = unwrapRows(st, winner, f)
    val toRow = CatalystTypeConverters.createToScalaConverter(row.schema)
    (row.rows.headOption.map(toRow(_).asInstanceOf[org.apache.spark.sql.Row]), reads)
  }

  /** Last SURVIVING event time strictly before `from` — the fill-seed
    * anchor for widen-from-last (reference dask.py:142-148): instead of
    * scanning a feature's full history to seed a forward fill, find the
    * seed row's time with the same log-driven endpoint search as
    * [[endpointLookup]], bounded below `from` (files whose `tmin` is at
    * or past `from` are never candidates, and a file spanning `from` is
    * bounded by it), and let the caller lower-bound the real scan at it.
    * Survival means post-travel: a timeTravel-filtered row can never be
    * returned as the seed. The search's winner row gives the time
    * directly: no Dataset is built.
    */
  private[graft] def lastTimeBefore(
      nsObj: Namespace,
      f: Feature,
      from: Timestamp,
      timeTravel: Option[String]): Option[Timestamp] = {
    val winner = store(nsObj).endpoint(f.name, fromTail = true, timeTravel, before = Some(from),
      valueType = pinnedType(f))._1
    val t = winner.schema.fieldIndex("time")
    // the search keeps only rows before `from`: the winner has a time
    winner.rows.headOption.map(r => DateTimeUtils.toJavaTimestamp(r.getLong(t)))
  }
}
