package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Persistent corrupted-row ledger — the durable image of the reference's
  * in-memory `corruptedRowOffsets` set (BigqueryStorageWriteSinkTask.java:
  * 224-242): when a remote append rejects specific rows, their coordinates
  * land here, the batch fails, and on the rewound replay the pipeline
  * routes exactly these rows to the DLQ instead of re-appending them
  * (put(): getCorruptedRowOffsets(tp).contains(offset) → errorReport,
  * :103-106).
  *
  * Durable because Spark's "retry" is a query restart replaying the
  * checkpointed batch — task memory does not survive it the way a Connect
  * worker's does. Entries are one CSV line per corrupted row
  * (topic,partition,offset,error), written whole-file-then-atomic-rename
  * so a crash mid-append never yields a torn ledger entry.
  *
  * Scale: the ledger carries only rows a remote append REJECTED — error
  * cardinality, not data cardinality. The pipeline loads it once per batch
  * and looks each row up in it as a literal set of that size inside the
  * batch's own projection (Spark's `InSet`, ordered for these struct
  * keys, O(log n) a row), with a literal coordinate→error map for the
  * rows that match; a stream with millions of corrupted rows would make
  * that literal too large for a plan, and would need the files read as a
  * DataFrame and joined instead — the layout stays valid for that.
  */
object QuarantineLedger {
  /** A ledger file: `batch-<id>.csv`, one per batch that recorded rows. */
  private val BatchFile = """batch-(\d+)\.csv""".r

  /** JVM-wide per-directory append locks: two QuarantineLedger INSTANCES
    * over the same directory (e.g. an old and a restarted pipeline in one
    * driver) must serialize their read-merge-writes — an instance-level
    * monitor would not. Keyed by the normalized absolute path. */
  private val appendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sink] def lockFor(root: Path): Object =
    appendLocks.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)
}

class QuarantineLedger(dir: String) {
  private val root: Path = Paths.get(dir)
  Files.createDirectories(root)

  /** One corrupted row: where it came from and why it was rejected. */
  case class Entry(topic: String, partition: Int, offset: Long, error: String)

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace(",", "\\c").replace("\n", "\\n")
  /** Single left-to-right scan — sequential replace() calls would corrupt
    * inputs whose ESCAPED form contains "\\n"/"\\c" (e.g. a literal
    * backslash before an n: "a\nb" escapes to "a\\nb", which a naive
    * replace("\\n", LF) would mangle back to "a" + LF + "b"). */
  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb += '\\'
          case 'c'  => sb += ','
          case 'n'  => sb += '\n'
          case other => sb += '\\' += other
        }
        i += 2
      } else { sb += s.charAt(i); i += 1 }
    }
    sb.toString
  }

  /** Record rejected rows; called from the failing batch before it
    * rethrows. ACCUMULATES like the reference's `corruptedRowOffsets`: a
    * replayed batch can reject NEW rows after the first quarantined set
    * was already routed to the DLQ, so new entries are unioned with the
    * file's existing coordinates — a plain overwrite would forget the
    * first set and let the feedback loop flip-flop between rejection sets
    * forever. First-recorded error wins per coordinate (idempotent
    * replays re-record the same rows). Write-then-rename keeps the merged
    * file atomic against READERS; the read-merge-write itself is
    * serialized on a JVM-wide per-DIRECTORY lock (not a per-instance
    * monitor — two ledger instances over one directory in the same driver
    * must also serialize), because racing appenders could otherwise
    * interleave read→write and silently drop one round's coordinates.
    * A ledger directory is single-writer-PROCESS by contract — two
    * independent driver processes must not share one. */
  def append(batchId: Long, rows: Seq[(String, Int, Long, String)]): Unit =
    QuarantineLedger.lockFor(root).synchronized {
    if (rows.isEmpty) return
    val tmp = root.resolve(s".batch-$batchId.tmp")
    val dst = root.resolve(s"batch-$batchId.csv")
    val existing = if (Files.exists(dst)) readFile(dst) else Seq.empty
    val known = existing.map(e => (e.topic, e.partition, e.offset)).toSet
    val merged = existing.map(e => (e.topic, e.partition, e.offset, e.error)) ++
      rows.filterNot { case (t, p, o, _) => known.contains((t, p, o)) }
    val body = merged.map { case (t, p, o, e) =>
      s"${escape(t)},$p,$o,${escape(e)}"
    }.mkString("", "\n", "\n")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def readFile(f: Path): Seq[Entry] =
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val Array(t, p, o, e) = line.split(",", 4)
      Entry(unescape(t), p.toInt, o.toLong, unescape(e))
    }

  /** All quarantined coordinates recorded so far, in batch order (numeric:
    * `batch-2` before `batch-10`), so a coordinate recorded by two batches
    * meets its first-recorded error first. */
  def load(): Seq[Entry] = {
    val files = Using.resource(Files.list(root))(_.iterator().asScala.toSeq).flatMap { f =>
      f.getFileName.toString match {
        case QuarantineLedger.BatchFile(id) => Some(id.toLong -> f)
        case _ => None
      }
    }
    files.sortBy(_._1).flatMap { case (_, f) => readFile(f) }
  }

  def isEmpty: Boolean = load().isEmpty
}

/** Row-level append rejection — the image of an AppendContext carrying
  * row errors (reference BigqueryStreamWriter.java:153-183): the batch as
  * a whole fails, but specific rows are named as the cause. Row-level
  * errors are unretriable for those rows by definition (the same bytes
  * would be rejected again), which is why the pipeline quarantines them
  * rather than retrying them. */
case class AppendRowsException(corrupted: Seq[(String, Int, Long, String)])
    extends RuntimeException(
      s"remote append rejected ${corrupted.size} row(s): " +
        corrupted.take(3).map { case (t, p, o, e) => s"$t/$p@$o: $e" }.mkString("; "))
