package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}

import graft.queries.Catalog

/** The catalog phase: a few `graft.queries.Catalog` queries over the seeded
  * events table, three of which drain `graft.streaming.EventStream`.
  */
object CatalogPhase {

  /** One query's outcome: wall seconds and its result rows, each rendered as
    * tab-joined values, sorted.
    */
  final case class Result(seconds: Double, rows: Seq[String])

  /** Turns the generated `events.jsonl` (ts as integer microseconds) into
    * the parquet table `graft.Tables.events` reads; returns the table dir.
    */
  def writeTables(spark: SparkSession, runDir: Path): String = {
    val dir = runDir.resolve("tables")
    spark.read
      .schema("event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .json(runDir.resolve("events.jsonl").toString)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  /** Runs `q` to completion. `collect` executes the whole plan, as the
    * `noop` sink would, and the rows are small.
    */
  def run(spark: SparkSession, tables: String, q: String): Result = {
    val t0 = System.nanoTime()
    val rows = Catalog.queries(q)(spark, tables).collect()
    val s = (System.nanoTime() - t0) / 1e9
    Result(s, rows.map(render).toSeq.sorted)
  }

  def render(r: Row): String = r.toSeq.map(String.valueOf).mkString("\t")

  /** Expected rows per query, from `catalog_expected.json`. */
  def expected(runDir: Path): Map[String, Seq[String]] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(runDir.resolve("catalog_expected.json").toFile)
    tree.fieldNames.asScala.map(q => q -> tree.get(q).elements.asScala.map(_.asText).toSeq.sorted).toMap
  }
}
