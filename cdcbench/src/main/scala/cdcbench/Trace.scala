package cdcbench

import scala.collection.mutable

/** One recorded span. `trace` groups the spans of one trigger or one
  * request; `parent` is the id of the enclosing span (0 = none).
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder, written out once when the run ends. Spans
  * are recorded by the benchmark around its calls into the program's
  * layers (and one per trigger from the progress listener); the program
  * itself is not instrumented. Disabled, it records nothing and adds
  * one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private var nextId = 0L
  /** Time spent inside the recorder's own bookkeeping. */
  @volatile var bookkeepingNs = 0L

  def span[A](name: String, trace: String)(f: => A): A =
    if (!enabled) f
    else {
      val b0 = System.nanoTime()
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      bookkeepingNs += t0 - b0
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, parents.headOption.getOrElse(0L), trace, name, t0, t1) }
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  /** A span measured elsewhere (e.g. a trigger reported by progress). */
  def record(name: String, trace: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, 0L, trace, name, startNs, endNs)
    }

  def count: Int = synchronized(spans.size)

  def durationsMs(name: String): Seq[Double] =
    synchronized(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq)

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try synchronized {
      spans.foreach { s =>
        w.write(s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

object Stats {
  /** Nearest-rank percentile (p in 0..100) of a non-empty sample. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)
  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Ordered metric sink: name → (value, unit). */
final class Metrics {
  val values: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
}
