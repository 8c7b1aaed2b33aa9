package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The workloads, derived from the engine's query registry by name family
  * (the leading letters of a query name: `tj1_asof_join` → `tj`,
  * `ml_select_kbest` → `ml`, `flagship_refined` → `flagship`). The landing
  * path (`st` streams, `s` sinks, the Glue job) rides in `interactive`:
  * its walls are per-query floors too. */
object Workloads {
  val families: Map[String, Set[String]] = Map(
    "interactive" -> Set("p", "f", "a", "j", "o", "u", "x", "w", "tj", "h", "sc", "ty",
      "st", "s", "flagship"),
    "heavy" -> Set("d", "n", "g", "ml", "stats", "t", "c", "m"))

  def family(query: String): String = query.takeWhile(_.isLetter)

  /** Every registered query, by workload; fails if a query falls in no
    * workload or in more than one. */
  def all(names: Iterable[String]): Map[String, Seq[String]] = {
    val byWorkload = names.toSeq.sorted.groupBy { n =>
      val hits = families.collect { case (w, fs) if fs(family(n)) => w }
      require(hits.size == 1, s"query $n is in ${hits.size} workloads")
      hits.head
    }
    families.keys.map(w => w -> byWorkload.getOrElse(w, Seq.empty)).toMap
  }

  /** The fixed per-run sample of a workload, read from a sample file
    * (`perfbench/sample.tsv`, written by `run.py --survey`): one query per
    * family, the one whose warm wall in a traced run of the full mix was
    * closest to its family's median. The sample is a property of the
    * workload, never of the seed, so runs with different seeds time the
    * same queries and differ only in order. */
  def sample(path: String, workload: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .collect { case f if f(0) == workload => f(4) }.toSeq.sorted
}

/** Order-insensitive result digest: row count plus the exact sum of a
  * 64-bit hash of every row. Every output column feeds the hash, so
  * Catalyst cannot prune any projection the query computes. */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The digest aggregate over `df`. Columns are renamed by position
    * (results may repeat a name); maps, which Spark refuses to hash,
    * enter through their JSON rendering. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val hashed: Column = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    named.select(hashed.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum(col("h")), lit(0)).as("hsum"))
  }

  /** `rows:hashsum` of a collected [[frame]] row. */
  def render(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"

  def of(df: DataFrame): String = render(frame(df).collect().head)

  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}

/** What the reference digests say about one query: `exact` compares the
  * whole digest; `rows` compares only the row count (for queries whose
  * digest did not repeat across runs of the same code). */
final case class Expected(digest: String, exact: Boolean) {
  def accepts(got: String): Boolean =
    if (exact) got == digest else Digest.rows(got) == Digest.rows(digest)
}

/** One timed query execution. `outcome` is `ok`, `timeout`, `error` or
  * `wrong`; every outcome but `ok` is one failure. */
final case class Sample(name: String, pass: Int, wallS: Double,
    frameS: Double, actionS: Double, checkS: Double, outcome: String,
    detail: String, digest: String, actionQe: Option[AnyRef]) {
  def failed: Boolean = outcome != "ok"
}

object Accounting {
  /** Hook the tracer wraps around the three phases of a query. */
  trait Spans {
    def phase[T](name: String)(body: => T): T = body
  }
  object NoSpans extends Spans

  /** Runs one query under the engine's watchdog (`graft.Guard`, so its jobs
    * carry the `graft-<name>` job group), materializes every output
    * column through [[Digest]], and checks the digest against `expected`.
    * A throw, a watchdog timeout and a wrong or missing digest each yield
    * exactly one failed sample. */
  def runQuery(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String,
      expected: Option[Expected], pass: Int, spans: Spans = NoSpans): Sample = {
    val t0 = System.nanoTime()
    var tFrame = 0L; var tAction = 0L
    var qe: Option[AnyRef] = None
    def secs(ns: Long) = ns / 1e9
    val result: Either[String, Option[String]] =
      try Right(graft.Guard.timed(spark, name) {
        val df = spans.phase("frame")(fn(spark, dir))
        tFrame = System.nanoTime()
        // the action span covers building the digest plan too: its
        // analysis is part of the materializing action
        val r = spans.phase("action") {
          val digestFrame = Digest.frame(df)
          qe = Some(digestFrame.queryExecution)
          digestFrame.collect().head
        }
        tAction = System.nanoTime()
        Digest.render(r)
      })
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    val tEnd0 = System.nanoTime()
    val (outcome, detail, digest) = spans.phase("check") {
      result match {
        case Left(msg) => ("error", msg, "")
        case Right(None) => ("timeout", s"exceeded ${graft.Guard.timeoutSec}s", "")
        case Right(Some(d)) => expected match {
          case None => ("wrong", "no reference digest", d)
          case Some(e) if !e.accepts(d) => ("wrong", s"expected ${e.digest}", d)
          case _ => ("ok", "", d)
        }
      }
    }
    val tEnd = System.nanoTime()
    val frameS = if (tFrame > 0) secs(tFrame - t0) else secs(tEnd0 - t0)
    val actionS = if (tAction > 0) secs(tAction - tFrame) else 0.0
    Sample(name, pass, secs(tEnd0 - t0), frameS, actionS, secs(tEnd - tEnd0),
      outcome, detail, digest, qe)
  }
}
