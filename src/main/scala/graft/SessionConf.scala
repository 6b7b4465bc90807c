package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf settings, for the writes and reads that can only
  * be steered session-wide. */
object SessionConf {

  /** `body` with the session confs `kv` set; afterwards each key the
    * session had set gets its value back and every other key is unset.
    * (`RuntimeConfig.get` and `getOption` answer a registered key's
    * default, so putting that back would pin a value the session never
    * chose, and change `spark.conf.getAll`, which keys the store's
    * cached driver readers.) */
  def scoped[T](spark: SparkSession)(kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> Option.when(spark.sessionState.conf.contains(k))(spark.conf.get(k)) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
