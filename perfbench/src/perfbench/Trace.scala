package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded around the benchmark's own calls into the
  * program, at three levels: workload → operation (a file or a query) →
  * phase (parse / materialize, plan / exec, build / plan / execute).
  * Disabled, [[span]] only runs its body. */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val start = System.nanoTime()
      open = id :: open
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, op, name, start, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Seconds of each span name not covered by its child spans. Children
    * run on the caller's one thread, so they never overlap. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(_.ns)(_ + _)
    spans.groupMapReduce(_.name)(s => (s.ns - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }

  def totalSeconds(name: String): Double = spans.filter(_.name == name).map(_.ns).sum / 1e9

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, op: String, name: String, start: Long, end: Long) {
    def ns: Long = end - start
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
