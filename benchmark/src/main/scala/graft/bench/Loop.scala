package graft.bench

/** One timed operation: its index, wall time, and the error that failed
  * it. A failed operation keeps no time: a fast failure must never read
  * as a fast operation. */
final case class OpRecord(index: Int, wallS: Option[Double], error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Closed-loop measurement with one client: the next operation starts
  * only after the previous one has returned. */
object Loop {

  /** Call `step(i)` for i = 0, 1, ... in whole cycles of `cycle` steps.
    * The first cycle always runs; a further one starts only if `limit`
    * allows it and it would end within `seconds` of the call, taking as
    * long as the cycles before it did on average. */
  def run(seconds: Double, limit: Int, cycle: Int = 1)(step: Int => OpRecord): Vector[OpRecord] = {
    val t0 = System.nanoTime()
    val budgetNs = seconds * 1e9
    val out = Vector.newBuilder[OpRecord]
    var cycles = 0
    def fits: Boolean = cycles == 0 || {
      val spent = (System.nanoTime() - t0).toDouble
      spent + spent / cycles <= budgetNs
    }
    while ((cycles + 1).toLong * cycle <= limit && fits) {
      (0 until cycle).foreach(j => out += step(cycles * cycle + j))
      cycles += 1
    }
    out.result()
  }

  /** Time one operation. NonFatal errors and LinkageErrors fail it and
    * are recorded without a time; fatal JVM errors propagate. */
  def timed(i: Int)(body: => Unit): OpRecord = {
    val t0 = System.nanoTime()
    try {
      body
      OpRecord(i, Some((System.nanoTime() - t0) / 1e9), None)
    } catch {
      case e @ (scala.util.control.NonFatal(_) | _: LinkageError) =>
        OpRecord(i, None, Some(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(200)))
    }
  }
}
