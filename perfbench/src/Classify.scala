package perfbench

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.queries._

/** Maintenance modes behind the frozen gate lists in gates.tsv.
  *
  * `classify` runs every gate of `SparkEntry.allQueries` twice and records,
  * for the warm run, how many Spark jobs the query function itself started:
  * a gate whose warm query function starts no job is lazy, any other is
  * eager. `fingerprint` runs the listed gates twice and records the
  * fingerprint both runs agree on. */
object Classify {
  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "ParityQueries" -> ParityQueries.all, "TextQueries" -> TextQueries.all,
    "VectorQueries" -> VectorQueries.all, "EventQueries" -> EventQueries.all,
    "RetrievalQueries" -> RetrievalQueries.all, "GraphQueries" -> GraphQueries.all,
    "CurationQueries" -> CurationQueries.all)

  private def once(spark: SparkSession, trace: Trace, q: QueryDef, data: String)
      : Either[String, (Fingerprint, Long, Long, Long)] =
    try {
      val (df, b) = trace.span("classify", q.name, "build")(q.fn(spark, data))
      val (qe, p) = trace.span("classify", q.name, "plan") {
        val qe = Sink.queryExecution(df); qe.executedPlan; qe
      }
      val (fp, x) = trace.span("classify", q.name, "exec")(Sink.run(qe))
      Right((fp, b, p, x))
    } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200)) }

  def run(spark: SparkSession, data: String, out: Path): Int = {
    val trace = new Trace(spark.sparkContext, None)
    val lines = for ((module, qs) <- Modules; q <- qs) yield {
      once(spark, trace, q, data)
      trace.drain()
      val warm = once(spark, trace, q, data)
      val jobs = trace.drain().get("build").map(_.jobs).getOrElse(0L)
      val line = warm match {
        case Right((fp, b, p, x)) => f"$module\t${q.name}\t$jobs\t${b / 1e9}%.4f\t${p / 1e9}%.4f\t${x / 1e9}%.4f\t$fp"
        case Left(err) => s"$module\t${q.name}\t-1\t0\t0\t0\tERROR $err"
      }
      System.err.println(s"[classify] $line")
      line
    }
    trace.close()
    Files.write(out, ("module\tname\tbuild_jobs\tbuild_s\tplan_s\texec_s\tfingerprint" +: lines)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    if (lines.exists(_.contains("\tERROR "))) 1 else 0
  }

  def fingerprints(spark: SparkSession, data: String, gates: Seq[Gates.Gate], out: Path): Int = {
    val trace = new Trace(spark.sparkContext, None)
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    val lines = gates.map { g =>
      val runs = Seq.fill(2)(once(spark, trace, byName(g.name), data).map(_._1.toString))
      val fp = runs match {
        case Seq(Right(a), Right(b)) if a == b => a
        case other => s"UNSTABLE ${other.mkString(" ")}"
      }
      System.err.println(s"[fingerprint] ${g.workload} ${g.name} $fp")
      s"${g.workload}\t${g.name}\t$fp"
    }
    trace.close()
    Files.write(out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (lines.exists(_.contains("UNSTABLE"))) 1 else 0
  }
}
