package graft.util

/** The one crash seam of the commit protocols: a registry of named
  * points, each placed in the widest window of one commit (after every
  * write, before the rename that publishes them). [[hit]] throws
  * [[FaultPoints.InjectedCrash]] only while a test has [[armed]] that
  * name, so production paths pay one set lookup per commit. Recovery
  * specs arm a point, let the call die there, then check that recovery
  * or a plain retry lands the crash-free result (FaultPointSweepSpec runs
  * every registered point that way).
  */
private[graft] object FaultPoints {
  final class InjectedCrash(val point: String)
    extends IllegalStateException(s"injected crash at fault point '$point'")

  /** [[graft.streaming.CompactSwap.commit]]: marker created, swap not
    * rolled — every maintained twin's compact() and Maintenance's flat
    * folds. */
  val CompactSwap = "compact.swap"
  /** Catalog index appends: batch partitions written, pointer not swapped. */
  val ShingleAppend = "shingle-index.append"
  val OverlapAppend = "overlap-index.append"
  val Bm25Append = "bm25-index.append"
  /** Event-path manifest commits: files staged, manifest not renamed. */
  val EventLogAppend = "event-log.append"
  val EventLogCompact = "event-log.compact"
  val KafkaLogAppend = "kafka-log.append"
  val KafkaLogCompact = "kafka-log.compact"

  /** DailyIncrement's apply steps, in order; [[incrementStep]] names the
    * point right after a step's `.done` marker. */
  val IncrementSteps: Seq[String] = Seq("curated", "batchctr", "evalh",
    "shards", "packbase", "bm25", "vectors", "dsir", "shingleidx",
    "overlapidx", "benchidx", "spanidx", "tokvocab")
  def incrementStep(step: String): String = s"increment.$step"

  /** Every registered point. */
  val names: Seq[String] = Seq(CompactSwap, ShingleAppend, OverlapAppend,
    Bm25Append, EventLogAppend, EventLogCompact, KafkaLogAppend,
    KafkaLogCompact) ++ IncrementSteps.map(incrementStep)

  private val registered = names.toSet
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def known(name: String): Unit =
    require(registered.contains(name), s"unregistered fault point '$name'")

  /** Crash here if a test armed `name`. */
  def hit(name: String): Unit = {
    known(name)
    if (live.contains(name)) throw new InjectedCrash(name)
  }

  /** Run `body` with `name` armed (disarmed again however it ends). */
  def armed[A](name: String)(body: => A): A = {
    known(name)
    live.add(name)
    try body finally live.remove(name)
  }
}
