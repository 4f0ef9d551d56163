package graft

import org.apache.spark.sql.SparkSession

import graft.ops.Caches

/** What the harness mains share: one way to build a local session, and
  * one per-query loop that owns session and cache lifetimes.
  */
object Harness {
  /** Local cores: SPARK_GRAFT_CPUS, else every processor of the host. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on [[cpus]] cores with UTC time, no UI and
    * GraftExtensions, `partitions` shuffle partitions and any extra
    * `conf` (StreamBench's scaling sweep sets its state-store provider).
    */
  def session(partitions: Int = cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Counted queries per residency window of [[Loop]]. */
  val Window = 100

  /** One query's wall seconds (including the cache release) and, if it
    * threw or timed out, the error.
    */
  final case class Outcome(seconds: Double, error: Option[String])

  /** The per-query loop of a harness main. Each query runs under
    * [[Watchdog]] and is followed by `Caches.clear()`.
    *
    * Every [[Window]] counted queries the loop releases the families
    * (`Caches.clearPinned()`) and restarts the session. The restart bounds
    * drift: one session accumulating 800+ materializations slowed ~14%
    * per query as the suite grew (heap/GC pressure, plans unchanged); a
    * new session drops block-manager, broadcast and listener-bus state,
    * while JVM-global caches (codegen) survive. The release bounds pinned
    * residency to one window's families, and must come first: a family
    * references its session, so a session stopped without it stays
    * reachable, with every family, for the rest of the run.
    *
    * `rewarm`, if given, runs the next query once, unmeasured, on each
    * restarted session before measuring resumes.
    */
  final class Loop(rewarm: Option[(SparkSession, String) => Unit] = None) {
    private var live = session()
    private var counted = 0

    def spark: SparkSession = live

    /** Run query `name`, counted toward the window. */
    def apply(name: String)(body: SparkSession => Unit): Outcome = {
      if (counted == Window) {
        restart()
        rewarm.foreach(w => once(name)(w(_, name)))
      }
      counted += 1
      once(name)(body)
    }

    /** Run query `name` outside the window count (a warm-up pass). */
    def once(name: String)(body: SparkSession => Unit): Outcome = {
      val s = live
      val t0 = System.nanoTime()
      val err = Watchdog.run(s, name)(body(s))
      Caches.clear()
      Outcome((System.nanoTime() - t0) / 1e9, err)
    }

    /** Release the families and go on with a fresh session. */
    def restart(): Unit = {
      stop()
      live = session()
      counted = 0
    }

    /** Release the families and stop the session. */
    def stop(): Unit = {
      Caches.clearPinned()
      live.stop()
    }
  }
}
