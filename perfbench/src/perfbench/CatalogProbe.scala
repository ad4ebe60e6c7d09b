package perfbench

import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkEntry
import graft.operators._

/** Canonical, engine-neutral digest of a query result: columns sorted by
  * name, each value tagged by kind (integral numbers, including integral
  * doubles, print as integers; other doubles as their IEEE bits), rows
  * hashed and the sorted row hashes hashed again. perfbench/expected.py
  * computes the same digest from DuckDB results. */
object Digest {
  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def value(v: Any): String = v match {
    case null => "n"
    case b: Boolean => s"b:$b"
    case x: Byte => s"i:$x"
    case x: Short => s"i:$x"
    case x: Int => s"i:$x"
    case x: Long => s"i:$x"
    case x: java.math.BigDecimal => number(x.doubleValue, Some(x))
    case x: scala.math.BigDecimal => number(x.doubleValue, Some(x.bigDecimal))
    case x: Float => number(x.toDouble, None)
    case x: Double => number(x, None)
    case s: String => s"s:$s"
    case other => s"o:$other"
  }

  private def number(d: Double, dec: Option[java.math.BigDecimal]): String =
    if (dec.exists(x => x.stripTrailingZeros.scale <= 0))
      s"i:${dec.get.toBigIntegerExact}"
    else if (d.isNaN) "f:nan"
    else if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) s"i:${d.toLong}"
    else f"f:${java.lang.Double.doubleToLongBits(d)}%016x"

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val hashes = rows.map(r => sha(order.map(i => value(r.get(i))).mkString("\u0001"))).sorted
    sha(columns.sorted.mkString(",") + "\n" + hashes.mkString("\n"))
  }
}

/** A fixed, named subset of the SparkEntry.queries catalog over the stored
  * sf0.01 tables, one query per operator family, plus one Structured
  * Streaming run of the quality gates. The tables are tiny (500 docs), so a
  * query's time is mostly its fixed cost: planning, codegen compile, job
  * and stage scheduling. The traced run of pipeline_tokenize sweeps it once
  * for the `Queries.<family>.s` and `streaming.s` layers. Each query's
  * collected output is compared with a digest computed once from its
  * DuckDB oracle. */
final class CatalogProbe(o: Opts) {
  private case class Q(name: String, family: String, digest: String, rows: Long)

  private val queries: Seq[Q] = {
    val root = new ObjectMapper().readTree(o.catalog.resolve("queries.json").toFile)
    root.get("queries").elements().asScala.map { n =>
      Q(n.get("name").asText, n.get("family").asText, n.get("digest").asText,
        n.get("rows").asLong)
    }.toSeq
  }
  private val tables = o.tables.toString
  private val streamSrc = o.scratch.resolve("stream_src").toString

  private val gate = graft.Pipeline(Vector(
    GopherQualityFilter("text", "words"),
    C4LineFilter(),
    BlocklistFilter(Seq("casino", "viagra", "xxx"))))
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("words", Splitters.toColumn(col("text"), Splitters.Ws))
  private def quarantined(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      (!col("gopher_pass") || !col("c4_pass") || col("blocklist_hit"))
        .cast("long").as("quarantined"))

  /** One sweep: every query, then the streaming run, each one operation.
    * Returns the seconds per layer metric. */
  def sweep(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    // off the clock: the streaming source and the batch gate it must match
    spark.read.parquet(s"$tables/documents.parquet").select("doc_id", "text")
      .write.mode("overwrite").parquet(streamSrc)
    val streamExpected = quarantined(gate(withWords(spark.read.parquet(streamSrc))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = ctx.runPass {
      queries.foreach(query(ctx, _))
      streaming(ctx, streamExpected)
    }
    p.ops.groupBy(_.layer).map { case (l, os) => Layers.busyName(l) -> os.map(_.seconds).sum }
  }

  private def query(ctx: Ctx, q: Q): Unit =
    ctx.op(s"Queries.${q.family}")(SparkEntry.queries(q.name)(ctx.spark, tables))(df =>
      (df.columns.toSeq, df.collect().toSeq)) { case (cols, rows) =>
      if (rows.size != q.rows) Some(s"${q.name}: ${rows.size} rows, expected ${q.rows}")
      else if (Digest.of(cols, rows) != q.digest)
        Some(s"${q.name}: output digest differs from its oracle")
      else None
    }

  private def streaming(ctx: Ctx, expected: Map[Long, Long]): Unit = {
    val spark = ctx.spark
    val sink = "perfbench_stream"
    val ckpt = o.scratch.resolve("checkpoints").resolve(sink).toString
    ctx.op("streaming", plan = false)({
      val stream = spark.readStream.schema(spark.read.parquet(streamSrc).schema)
        .parquet(streamSrc).repartition(o.cores, col("doc_id"))
      quarantined(graft.streaming.StreamingPipeline(gate, withWords(stream)))
    }) { df =>
      df.writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      spark.table(sink).collect().map(r => r.getLong(0) -> r.getLong(1))
    } { got =>
      spark.sql(s"DROP VIEW IF EXISTS $sink")
      if (got.length != expected.size || got.toMap != expected)
        Some(s"streaming gate: ${got.length} rows disagree with the batch gate")
      else None
    }
  }
}

/** Writes every catalog oracle as JSON {name: sql}; perfbench/expected.py
  * turns the benchmark's subset of them into stored digests. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json)
  }
}
