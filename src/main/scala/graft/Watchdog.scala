package graft
import org.apache.spark.sql.SparkSession

/** Per-query watchdog, run by the harness loop (`Harness.Loop`).
  *
  * Round-6 lesson: ONE pathological query (q341's first cut — an
  * expression-level fold that Catalyst inlined into O(grid^8)
  * interpreted work) hung its harness for the driver's entire 1 h
  * budget, so BOTH round artifacts (CORRECTNESS_r06, BENCH_r06) came
  * back empty and 341 green queries went unjudged. The artifact of
  * record must degrade per-query, never per-run.
  *
  * `run` executes the body on a daemon thread under a dedicated Spark
  * job group. On timeout it cancels the group (interrupting task
  * threads), interrupts the body thread, and returns the timeout as an
  * error string — the harness records the failure and moves on. A
  * zombie task that ignores interrupts can still burn CPU until its
  * stage is cancelled, but it can no longer take the run down.
  */
object Watchdog {
  /** Default per-query budget (seconds); override with
    * SPARK_GRAFT_QUERY_TIMEOUT_S. The slowest legitimate query at
    * sf0.1 measures ~8 s, so 150 s is ~20× headroom while still
    * bounding a stuck query to <5% of the driver's run budget.
    * A malformed override degrades to the default with a warning —
    * crashing at class-init would zero the whole run, the exact
    * failure mode this object exists to prevent.
    */
  val defaultTimeoutSec: Long =
    sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT_S").flatMap { v =>
      val parsed = scala.util.Try(v.trim.toLong).toOption.filter(_ > 0)
      if (parsed.isEmpty) System.err.println(
        s"[watchdog] malformed SPARK_GRAFT_QUERY_TIMEOUT_S='$v'; using 150s default")
      parsed
    }.getOrElse(150L)

  /** Timed-out bodies whose thread survived the interrupt. cancelJobGroup
    * is one-shot (it cancels jobs active at call time), so a zombie that
    * was between blocking actions can submit NEW jobs in the same group
    * afterwards and re-register persisted frames via Caches.shared —
    * competing with and skewing the next query. Each zombie is re-cancelled
    * (and the cache it may have repopulated re-cleared) at the start of
    * every subsequent run until its thread dies.
    */
  private val zombies =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  private def reapZombies(spark: SparkSession): Unit = {
    val it = zombies.entrySet().iterator()
    var repaired = false
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isAlive) {
        spark.sparkContext.cancelJobGroup(e.getKey)
        repaired = true
      } else it.remove()
    }
    if (repaired) graft.ops.Caches.clear()
  }

  /** Run `body`; return None on success, Some(errorMessage) on
    * exception or timeout.
    */
  def run(spark: SparkSession, name: String,
          timeoutSec: Long = defaultTimeoutSec)(body: => Unit): Option[String] = {
    reapZombies(spark)
    @volatile var err: Option[String] = None
    val group = s"wd-$name"
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try body
      catch { case e: Throwable => err = Some(String.valueOf(e.getMessage)) }
      finally spark.sparkContext.clearJobGroup()
    }, group)
    t.setDaemon(true)
    t.start()
    t.join(timeoutSec * 1000L)
    if (t.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      t.interrupt()
      // best-effort: give cancellation a moment to unwind, but never
      // wait long — a spinner that ignores interrupts would otherwise
      // charge this wait to every timed-out query
      t.join(5000L)
      if (t.isAlive) {
        // survived the grace join: cancel once more (it may have submitted
        // new jobs since the first cancel) and track for per-run re-cancel
        spark.sparkContext.cancelJobGroup(group)
        zombies.put(group, t)
      }
      // drop anything the dying body registered via Caches.shared after
      // the harness's own clear would have run
      graft.ops.Caches.clear()
      Some(s"watchdog timeout after ${timeoutSec}s")
    } else err
  }
}
