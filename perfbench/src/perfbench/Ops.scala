package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Accounting for a closed loop with one client: each call starts after
  * the previous one returned. A call that throws is counted as attempted
  * and failed under its error class, and adds no latency sample, so a
  * failure can never read as a fast operation.
  */
final class Ops {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val errors: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap()
  private var attempts = 0L

  def attempted: Long = attempts
  def failed: Long = errors.values.sum
  def failRatio: Double = if (attempts == 0) 0.0 else failed.toDouble / attempts

  def call[A](kind: String)(body: => A): Option[A] = {
    attempts += 1
    val t0 = System.nanoTime()
    try {
      val a = body
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      Some(a)
    } catch {
      case NonFatal(e) =>
        val cls = e.getClass.getName
        errors(cls) = errors.getOrElse(cls, 0L) + 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
  }

  /** Latency samples (ms) of the named kinds, in call order per kind. */
  def ms(kinds: String*): Seq[Double] =
    kinds.flatMap(k => samples.get(k).toSeq.flatten)
}
