package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One completed op: its kind, whether it writes, its latency, and
  * whether it failed (threw, or its output check rejected the result).
  */
final case class OpRecord(id: Long, kind: String, write: Boolean, seconds: Double,
    error: Option[String])

/** Times ops for a closed-loop single client. Only the call itself is
  * timed; the output check runs after the clock stops.
  */
final class Recorder(tracer: Tracer) {
  val ops = mutable.ArrayBuffer[OpRecord]()

  def op[A](kind: String, write: Boolean)(body: => A)(check: A => Option[String]): Unit = {
    tracer.opId += 1
    val t0 = System.nanoTime()
    val result = Try(body)
    val secs = (System.nanoTime() - t0) / 1e9
    val error = result match {
      case Failure(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Success(a) => Try(check(a)) match {
        case Success(err) => err
        case Failure(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    error.foreach(e => System.err.println(s"[perfbench] op $kind failed: $e"))
    ops += OpRecord(tracer.opId, kind, write, secs, error)
  }
}

/** A named workload. `setup` is the part of set-up that belongs to the
  * system under test (tables, servers, initial commits); input
  * generation happens in the constructor and is timed separately.
  */
trait Workload {
  /** Seconds spent generating inputs (excluded from set-up time). */
  def inputGenSeconds: Double

  /** Create what the ops need on a fresh session under `workDir`. */
  def setup(spark: SparkSession, workDir: String): Unit

  /** Layer figures measured during the last set-up (e.g. table load). */
  def setupFigures: Map[String, Double] = Map.empty

  /** Untimed work before measuring (warm-up, once-per-run oracle dump). */
  def warmup(rec: Recorder, tracer: Tracer): Unit

  /** One round of ops: a refresh with its reads, a query pass, a wave. */
  def round(rec: Recorder, tracer: Tracer): Unit

  /** End-of-run output checks; each entry is one violated expectation. */
  def finalChecks(): Seq[String]

  /** Release what `setup` created (servers, sessions' files). */
  def close(): Unit
}
