package lakebench

import scala.collection.mutable

/** One timed interval. Times are µs on a wall clock anchored to
  * `System.nanoTime`, so spans the benchmark times itself and spans
  * rebuilt from Spark's millisecond event times share one axis.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Each traced op is a root span; the
  * benchmark's calls into a layer are its children; Spark jobs and
  * streaming progress entries are added after the op from listener and
  * progress records. Nothing is written until [[Tracer.toJson]].
  */
final class Tracer {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var opId = -1
  @volatile var active = false

  def beginOp(op: Int): Int = {
    opId = op
    active = true
    val id = nextId; nextId += 1
    stack = id :: Nil
    id
  }

  def endOp(rootId: Int, startUs: Long, endUs: Long): Span = {
    active = false
    stack = Nil
    val s = Span(rootId, -1, opId, s"op.$opId", "driver", startUs, endUs)
    spans += s
    s
  }

  /** Time `body` as a child of the innermost open span (no-op untraced). */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = nowUs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, name, layer, t0, nowUs)
      }
    }

  /** Add a span measured elsewhere (listener or progress record). */
  def add(parent: Int, op: Int, name: String, layer: String, startUs: Long, endUs: Long): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, op, name, layer, startUs, math.max(startUs, endUs))
    id
  }

  def opSpans(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq

  def toJson: String = {
    val sb = new StringBuilder("[")
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""")
      sb.append(s""""layer":"${s.layer}","start_us":${s.startUs},"end_us":${s.endUs}}""")
    }
    sb.append("]\n").toString
  }
}

object Tracer {
  /** Layers that own a share of an op's wall time. `driver` is the
    * root's own time: everything no deeper span covers.
    */
  val Layers: Seq[String] =
    Seq("sources", "streaming", "tables", "materialize", "operators",
      "functions", "plans", "spark", "driver")

  /** Exclusive attribution of one op's wall time: at every instant the
    * deepest covering span owns it (ties: the later start), so the owned
    * times partition [root.start, root.end] and sum to the op's wall time
    * exactly. Spans are clipped to the root interval; Spark jobs are
    * always deepest.
    */
  def ownTime(op: Seq[Span]): Map[Span, Long] = {
    val root = op.find(_.parent == -1).get
    val byId = op.map(s => s.id -> s).toMap
    val depth = mutable.Map[Int, Int]()
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent == -1) 0
      else if (s.layer == "spark" && s.name.startsWith("job.")) 1000
      else byId.get(s.parent).map(depthOf).getOrElse(0) + 1)
    val clipped = op.flatMap { s =>
      val a = math.max(s.startUs, root.startUs)
      val b = math.min(s.endUs, root.endUs)
      if (b > a || s.id == root.id) Some((s, a, b, depthOf(s))) else None
    }
    val points = clipped.flatMap(c => Seq(c._2, c._3)).distinct.sorted
    val acc = mutable.Map[Span, Long]().withDefaultValue(0L)
    points.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val owner = clipped.filter(c => c._2 <= a && c._3 >= b).maxBy(c => (c._4, c._1.startUs))
        acc(owner._1) += b - a
      case _ =>
    }
    acc.toMap
  }

  /** Self time per layer; sums to the op's wall time. */
  def selfTimes(op: Seq[Span]): Map[String, Long] =
    ownTime(op).groupMapReduce(_._1.layer)(_._2)(_ + _)
}
