package graft.store

import java.time.{Instant, LocalDate, ZoneOffset}

/** The ONE source of the widened partition-bound derivation shared by
  * `TimeseriesStore.prunePartitionValues` (txlog metadata path) and
  * `graft.plans.DerivePartitionFilters` (optimizer rule): partition
  * strings are derived in the WRITER's session zone at save, so a
  * reader must widen each bound by one unit around the UTC
  * interpretation — every session zone sits within 14h of UTC, so
  * UTC ±1 unit covers any writer/reader combination (reader-zone
  * anchoring does NOT: writer and reader can be 26h apart). Independent
  * copies of this contract drifted before; a change here (e.g. a new
  * partition style) reaches every site at once.
  *
  * Bounds take a timestamp's epoch micros as a `lit` or a stored row
  * carries them (`DateTimeUtils.fromJavaTimestamp`, proleptic
  * Gregorian), the same value the written partitions were derived
  * from — never a `java.sql.Timestamp`'s own instant, which is on the
  * hybrid Julian calendar and days off before 1582.
  */
object PartitionBounds {

  /** UTC calendar date of the micros, shifted `skewDays`. */
  def date(micros: Long, skewDays: Int): LocalDate =
    LocalDate.ofInstant(Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L)), ZoneOffset.UTC)
      .plusDays(skewDays.toLong)

  /** "date"-style partition bound value ("yyyy-MM-dd"). */
  def dateString(micros: Long, skewDays: Int): String = date(micros, skewDays).toString

  /** "year"-style partition bound value. */
  def year(micros: Long, skewYears: Int): Int = date(micros, 0).getYear + skewYears
}
