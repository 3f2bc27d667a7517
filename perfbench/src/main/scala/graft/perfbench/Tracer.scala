package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext

/** In-memory spans recorded around the benchmark's calls into each layer.
  * A span may name a job group: Spark jobs started inside it are then
  * tagged with that group, and [[Ledger]] aggregates their task metrics
  * under it. Disabled, `span` runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  import Tracer.GroupKey

  def span[T](name: String, op: String, group: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val prevGroup = sc.getLocalProperty(GroupKey)
      if (group != null) sc.setLocalProperty(GroupKey, group)
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, Option(group).getOrElse(prevGroup),
          t0, System.nanoTime(), Thread.currentThread().getName))
        current.set(parent)
        sc.setLocalProperty(GroupKey, prevGroup)
      }
    }

  /** A job group nested in the calling thread's current one (null when
    * it has none), so [[Ledger]] counts its jobs in both. */
  def child(name: String): String =
    Option(sc.getLocalProperty(GroupKey)).map(g => s"$g/$name").orNull

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** One JSON object per span, start times relative to `originNs`. */
  def jsonLines(originNs: Long): Seq[String] = all.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "op" -> s.op, "group" -> s.group,
      "start_ms" -> (s.startNs - originNs) / 1e6, "end_ms" -> (s.endNs - originNs) / 1e6,
      "thread" -> s.thread))
  }
}

object Tracer {
  /** The local property Spark tags a job's group with. */
  val GroupKey = "spark.jobGroup.id"
  final case class Span(id: Long, parent: Long, name: String, op: String,
                        group: String, startNs: Long, endNs: Long, thread: String)
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
