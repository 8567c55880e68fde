package graft.ops

import org.apache.spark.sql.SparkSession

/** Scoped session-conf swap for per-workload sizing (the one mechanism
  * behind the streaming twins' state-partition sizing and the iterative
  * graph entries' tiny-round sizing): set, run, restore. Only sound
  * around work that EXECUTES inside `body` (eager loops, started streams)
  * — a lazily returned plan executes after the restore.
  */
object SessionConf {

  /** One scope active per session at a time: the swap mutates SHARED
    * session state, so two concurrent scopes would race and could restore
    * a stale value — silently resizing every later shuffle. The registry
    * runs entries serially; this makes that assumption executable instead
    * of a comment (concurrent callers fail loudly here, never corrupt the
    * session conf).
    */
  private val active =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Set `kvs`, run `body`, restore every key to its prior value (or
    * unset keys that were unset). Only sound around work that EXECUTES
    * inside `body` — a lazily returned plan executes after the restore.
    */
  def scoped[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    require(active.add(s),
      "SessionConf: a scoped conf swap is already active on this session " +
        "— scopes mutate shared conf and must run serially")
    // everything after the latch — INCLUDING the set loop — runs inside
    // the try: a throwing conf.set (invalid value, static key) must still
    // restore the keys already applied and release the latch, or the
    // session is permanently locked out of all future scopes with
    // partially-applied conf (review finding, round 12)
    // restore ONLY keys whose set succeeded (reverse order): re-setting a
    // key whose conf.set already threw during apply would throw again in
    // the finally and MASK the original failure with the restore's copy
    // of it (review finding, round 12). Keys after the throwing one were
    // never applied, so skipping them leaks nothing.
    var applied = List.empty[(String, Option[String])]
    try {
      kvs.foreach { case (k, v) =>
        val prior = s.conf.getOption(k)
        s.conf.set(k, v)
        applied ::= (k -> prior)
      }
      body
    } finally {
      try applied.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      } finally active.remove(s)
    }
  }

  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    scoped(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Cores of every main's local master, and its shuffle partition count:
    * `SPARK_GRAFT_CPUS`, else the processor count.
    */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** The session the mains run in: graft extensions registered,
    * `local[cpus]` with as many shuffle partitions, UTC, no UI, WARN
    * logging. An already active session is returned with these settings
    * applied (`getOrCreate`).
    */
  def localSession(): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
