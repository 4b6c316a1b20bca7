package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry

/** Catalogue rows timed in a pipeline workload's traced run: the
  * per-query planning and scheduling floor (Catalyst phases, jobs, idle
  * cores), measured on the workload's own input. Each row is
  * materialized through the noop sink and digested in the same pass;
  * every execution must reproduce the digest of the verified pass, whose
  * result is checked against the row's DuckDB oracle SQL.
  */
object Catalogue {
  /** Rows per workload: they read only the workload's table. */
  def rowsFor(workload: String): Seq[String] = workload match {
    case "daily_snapshot" => Seq("ind_rsi", "screen_breakout")
    case "corpus_curate" => Seq("dedup_exact", "text_quality")
  }
  val Passes = 3

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Order-insensitive digest of the rows `df` yields, computed in the
    * same pass that materializes them.
    */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("s"),
      bit_xor(h).as("x")), obs)
  }

  def digest(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("s")}:${m("x")}"
  }

  final class Runner(c: Harness.Conf, rec: Harness.Record, spark: SparkSession, probe: Probe,
                     trace: Trace) {
    private val verified = scala.collection.mutable.Map.empty[String, String]

    def frame(name: String): DataFrame = SparkEntry.queries(name)(spark, c.in)

    private def cleanUp(): Unit = Harness.settle(spark, gc = false)

    /** Untimed: the row's result to parquet for the DuckDB oracle check. */
    def verify(name: String): Unit = {
      try {
        val (df, obs) = observed(frame(name))
        df.coalesce(1).write.mode("overwrite").parquet(s"${c.work}/verify/$name")
        verified(name) = digest(obs)
      } catch { case NonFatal(e) =>
        rec.calls += Map("kind" -> "verify", "row" -> name, "error" -> String.valueOf(e.getMessage))
      }
      cleanUp()
    }

    /** One traced row: plan, execute through the noop sink, digest. */
    def traced(name: String): Unit = {
      val err = try {
        val h = trace(s"query:$name") {
          val (df, obs) = observed(frame(name))
          df.write.format("noop").mode("overwrite").save()
          digest(obs)
        }
        if (verified.get(name).contains(h)) null
        else s"$name: digest $h differs from verified ${verified.getOrElse(name, "none")}"
      } catch { case NonFatal(e) => String.valueOf(e.getMessage) }
      rec.calls += Map("kind" -> "row", "row" -> name, "error" -> err)
      cleanUp()
    }

    /** Verify every row once, then time `Passes` traced passes. */
    def run(rows: Seq[String]): Unit = {
      rows.foreach(verify)
      rec.extra("oracle_sql") = rows.map(r => r -> SparkEntry.oracleSql(r)).toMap
      for (_ <- 0 until Passes) rows.foreach(traced)
    }
  }
}
