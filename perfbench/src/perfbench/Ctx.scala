package perfbench

import graft.cypher.{CypherParser, QueryEngine}
import graft.model.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** One operation of a workload. `run` does the work, consumes the result
  * as a user would, checks its own invariants (throwing on a violation)
  * and returns a digest of the result. Ops with equal keys must return
  * equal digests. */
final case class Op(key: String, kind: String, run: () => String)

/** A workload: a loader (the model layer), its parameter domains, a
  * warm-up pass that runs every op shape once, and a fixed cycle of ops. */
trait Workload {
  /** Load the graphs (`SnbLoader` / `GraphLoader` and their MV builds). */
  def load(): Unit
  /** Read parameter domains and build auxiliary indexes. */
  def prepare(): Unit
  def warmup: Seq[Op]
  /** Ops of measured cycle `c` (from 1). */
  def cycle(c: Int): Seq[Op]
}

/** Calls into the engine's public entry points, each timed as a span of
  * its layer when the current op is traced. */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  /** (op id, entry point, ms) of `CypherParser.parse` on each statement of
    * a traced op, timed after the op so the op's own wall time is
    * untouched. */
  val parseMs = mutable.ArrayBuffer.empty[(Int, String, Double)]
  val planNodes = mutable.ArrayBuffer.empty[Int]
  private val pendingParse = mutable.ArrayBuffer.empty[(String, String)]
  var opId = -1

  private def collect(df: DataFrame): Array[Row] = {
    val rows = tracer.span("exec", "collect")(df.collect())
    if (tracer.tracing) planNodes += tracer.planned(df)
    rows
  }

  private def execute(text: String, g: PropertyGraph, params: Map[String, Any]): DataFrame = {
    val df = tracer.span("cypher", "execute")(QueryEngine.execute(text, g, params))
    if (tracer.tracing) pendingParse += ((text, "execute"))
    df
  }

  /** A read statement through `QueryEngine.execute`; bounded result. */
  def read(text: String, g: PropertyGraph, params: Map[String, Any]): Array[Row] =
    collect(execute(text, g, params))

  /** A write statement through `QueryEngine.executeWrite`, plus its summary row. */
  def write(text: String, g: PropertyGraph, params: Map[String, Any]): (PropertyGraph, Array[Row]) = {
    val (g2, summary) = tracer.span("cypher", "write")(QueryEngine.executeWrite(text, g, params))
    if (tracer.tracing) pendingParse += ((text, "write"))
    (g2, collect(summary))
  }

  /** A procedure call through `QueryEngine.execute`, reduced by [[digest]]. */
  def call(text: String, g: PropertyGraph, params: Map[String, Any], sums: Column*): Row =
    digest(execute(text, g, params), sums: _*)

  /** Time the parser on the statements of the op that just ended. */
  def flushParse(): Unit = {
    pendingParse.foreach { case (t, entry) =>
      val s = System.nanoTime()
      CypherParser.parse(t)
      parseMs += ((opId, entry, (System.nanoTime() - s) / 1e6))
    }
    pendingParse.clear()
  }

  /** Reduce a (possibly vertex-sized) result to one row over EVERY column:
    * (rows, sum of per-row hashes mod 2^31-1[, sums of `sums`]). Doubles
    * are rounded to 6 decimals first, like the catalog's oracles. Unlike
    * count(), the hash consumes each column, so nothing can be pruned. */
  def digest(df: DataFrame, sums: Column*): Row = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    val h = pmod(xxhash64(cols: _*), lit(2147483647L))
    val aggs = Seq(count(lit(1)).as("n"), sum(h).as("h")) ++ sums
    collect(df.agg(aggs.head, aggs.tail: _*)).head
  }
}

object Digest {
  private def fmt(v: Any): String = v match {
    case null => "null"
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    case f: Float => fmt(f.toDouble)
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-sensitive digest of collected rows (queries carry ORDER BY). */
  def rows(rs: Array[Row]): String = hex(rs.map(fmt).mkString("\n"))

  def hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}
