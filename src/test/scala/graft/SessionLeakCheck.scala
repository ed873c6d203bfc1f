package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Fails a suite that leaves [[SparkTestSession]] changed for the suites
  * after it: a runtime conf key set, unset or altered, or a persisted RDD
  * that was not there when the suite started and is still reachable. The
  * check runs after the suite's own `afterAll`, so a suite that cleans up
  * there passes. A suite that overrides `afterAll` must end it with
  * `super.afterAll()`. */
trait SessionLeakCheck extends BeforeAndAfterAll { this: Suite =>
  private var confAtStart = Map.empty[String, String]
  private var rddsAtStart = Set.empty[Int]

  private def persistedRdds(): Set[Int] = {
    // the context tracks persisted RDDs through weak references: one the
    // suite dropped stays listed until a GC, after which the context
    // cleaner unpersists it, so only a still-reachable one is a leak
    System.gc()
    SparkTestSession.spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    confAtStart = SparkTestSession.spark.conf.getAll
    rddsAtStart = persistedRdds()
  }

  override protected def afterAll(): Unit = {
    super.afterAll()
    val conf = SparkTestSession.spark.conf.getAll
    val confDiff = (confAtStart.keySet ++ conf.keySet).toSeq.sorted
      .filter(k => confAtStart.get(k) != conf.get(k))
      .map(k => s"$k: ${confAtStart.get(k)} -> ${conf.get(k)}")
    val newIds = persistedRdds() -- rddsAtStart
    // described only after the GC: the snapshot holds its RDDs strongly
    val rdds = SparkTestSession.spark.sparkContext.getPersistentRDDs
    val newRdds = newIds.toSeq.sorted
      .map(id => rdds.get(id).fold(id.toString)(_.toString))
    assert(confDiff.isEmpty && newRdds.isEmpty,
      s"$suiteName leaked session state: conf ${confDiff.mkString("[", ", ", "]")}, " +
        s"persisted RDDs ${newRdds.mkString("[", ", ", "]")}")
  }
}
