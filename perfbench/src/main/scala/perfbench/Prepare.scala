package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Data preparation, run once per checkout before any measured run:
  * generates the synthetic tables with the program's `graft.GenData` at
  * each requested scale factor, then exports the `events` table of the
  * first one as the connector fixture's source rows.
  *
  * Usage: perfbench.Prepare <events.tsv> <sf>=<dir> [<sf>=<dir> ...] */
object Prepare {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.head)
    val sfs = args.tail.map { a => val Array(sf, dir) = a.split("=", 2); (sf, dir) }
    sfs.foreach { case (sf, dir) => graft.GenData.main(Array(sf, dir)) }
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      val rows = Envelopes.fromTable(spark, sfs.head._2).map { e =>
        Seq(e.eventId, e.ts, e.userId, e.eventType, e.value, e.props).mkString("\t")
      }
      Files.write(out, rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
