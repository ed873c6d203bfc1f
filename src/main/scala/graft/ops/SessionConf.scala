package graft.ops

import org.apache.spark.sql.SparkSession

/** Scoped session-conf changes. */
object SessionConf {

  /** Runs `body` with each `key -> value` set on the session, then puts
    * every key back as it was: a key that was set gets its old value, and
    * a key that was unset is unset again. (`conf.getOption` is no guide to
    * that: it returns a registered key's default when the key is unset,
    * and restoring that value would leave the key explicitly set.) */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll // the keys explicitly set, nothing else
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
