package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Mapper, Pipeline}
import graft.operators._

/** smashed's mapper chain over a generated corpus: field ops -> Filter ->
  * BPE tokenizer (merges learned in set-up) -> strider -> encoded prompt ->
  * padding + attention mask -> FixedBatchSize + ListCollator -> parquet
  * sink. One timed pass is one fused run of the chain ending in the sink
  * write; the sink's output is read back and checked off the clock. */
final class PipelineWorkload(o: Opts) extends Workload {
  private val Window = 112
  private val Stride = 96
  private val Batch = 16
  private val NumMerges = 8
  private val MinWords = 24

  private val truth = new ObjectMapper().readTree(o.input.resolve("truth.json").toFile)
  private val keptIds: Set[Long] = {
    val b = Set.newBuilder[Long]
    truth.get("kept_ids").elements().forEachRemaining(n => b += n.asLong())
    b.result()
  }
  private val sinkPath = o.scratch.resolve("sink").resolve("pipeline").toString
  private val catalog = new CatalogProbe(o)

  private var spark: SparkSession = _
  private var corpus: DataFrame = _
  private var tok: BytePairTokenizer = _
  private var bos, eos, pad = 0L
  private var prefix: Seq[Long] = Nil
  private var maxLen = 0
  private var texts: Map[Long, String] = Map.empty
  private var passNo = 0

  val docsPerPass: Long = truth.get("props").get("docs").asLong()

  def warmupParquet: String = o.input.resolve("corpus.parquet").toString

  def setup(s: SparkSession): Unit = {
    spark = s
    corpus = s.read.parquet(o.input.resolve("corpus.parquet").toString)
      .repartition(2 * o.cores, col("doc_id"))
      .persist()
    corpus.count()
    val sample = corpus.filter(pmod(col("doc_id"), lit(10L)) === 0)
      .select(col("body"))
    val merges = BpeTrainer.learnMerges(sample, "body", NumMerges)
    tok = BytePairTokenizer.fromMerges(merges,
      Seq("<|endoftext|>", "<|startoftext|>", "<|pad|>"))
      .copy(cleanUpTokenizationSpaces = false)
    bos = tok.vocab("<|startoftext|>")
    eos = tok.vocab("<|endoftext|>")
    pad = tok.vocab("<|pad|>")
    prefix = tok.encode("passage: ", addSpecialTokens = false).toSeq
    maxLen = Window + prefix.size + 2
  }

  override def prepareChecks(s: SparkSession): Unit =
    texts = corpus.select("doc_id", "body").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The chain, one entry per engine module. */
  private def chain: Seq[(String, Mapper)] = Seq(
    "FieldOps" -> Pipeline(
      RenameFields(Map("body" -> "text")),
      ChangeFields(keepFields = Seq("doc_id", "text", "n_words"))),
    "FilterOps" -> Filter("n_words", ">=", MinWords.toLong),
    "TokenizeOps" -> TokenizerMapper(tok, "text", addSpecialTokens = false),
    "ShapeOps" -> SingleSequenceStrider(Seq("input_ids", "attention_mask"),
      maxLength = Window, stride = Some(Stride), keepLast = true),
    "PromptOps" -> FillEncodedPrompt("passage: {input_ids}",
      tokenizeLiteral = { val t = tok; (s: String) => t.encode(s, false).toSeq },
      bosTokenIds = Seq(bos), eosTokenIds = Seq(eos)),
    "SeqOps" -> Pipeline(
      Padding(maxLen, pad, Seq("input_ids")),
      Padding(maxLen, 0L, Seq("attention_mask"))),
    "CollatorOps" -> Pipeline(
      ChangeFields(keepFields = Seq("doc_id", "input_ids", "attention_mask")),
      FixedBatchSize(Batch),
      ListCollator(Map("input_ids" -> pad, "attention_mask" -> 0L))))

  private def sink(df: DataFrame): Unit =
    Sinks.partitionedParquet(df, sinkPath, Nil)

  def pass(ctx: Ctx): Unit = {
    passNo += 1
    ctx.op("pipeline")(chain.foldLeft(corpus)((d, m) => m._2(d)))(sink)(_ => check())
  }

  /** Windows the strider must emit for a token sequence of length n
    * (keepLast: a sequence shorter than the window is also emitted once
    * ahead of the strided windows). */
  private def expectedWindows(ids: Array[Long]): Seq[Seq[Long]] = {
    val n = ids.length
    val offs = (if (n < Window) Seq(0) else Nil) ++ (0 to n by Stride)
    offs.map(off => ids.slice(off, off + Window).toSeq)
  }

  /** Batch invariants are evaluated by Spark SQL over the sink's parquet
    * (no engine code involved): rectangular batches, attention masks that
    * are 1s then 0s summing to the unpadded length, and the prompt frame.
    * A seeded sample of documents is then checked window by window against
    * an independent stride computation, and through a decode round trip. */
  private def check(): Option[String] = {
    val k = col("k")
    val ki = k.cast("int")
    val rows = spark.read.parquet(sinkPath)
      .select(posexplode(col("doc_id")).as(Seq("i", "d")),
        size(col("doc_id")).as("n"), size(col("input_ids")).as("ni"),
        size(col("attention_mask")).as("nm"),
        col("input_ids"), col("attention_mask"))
      .select(col("d"), col("n"), col("ni"), col("nm"),
        element_at(col("input_ids"), col("i") + 1).as("s"),
        element_at(col("attention_mask"), col("i") + 1).as("m"))
      .withColumn("k", aggregate(col("m"), lit(0L), (a, x) => a + x))
    val checks = Seq(
      "not rectangular" -> (col("n") > Batch || col("ni") =!= col("n") ||
        col("nm") =!= col("n") || size(col("s")) =!= maxLen || size(col("m")) =!= maxLen),
      "mask not 1s then 0s" -> (col("m") =!= concat(array_repeat(lit(1L), ki),
        array_repeat(lit(0L), lit(maxLen) - ki))),
      "mask sum differs from unpadded length" ->
        (array_contains(slice(col("s"), lit(1), ki), pad) ||
          slice(col("s"), ki + 1, lit(maxLen) - ki) =!= array_repeat(lit(pad), lit(maxLen) - ki)),
      "prompt frame missing" -> (element_at(col("s"), 1) =!= bos ||
        element_at(col("s"), ki) =!= eos ||
        slice(col("s"), 2, prefix.size) =!= typedLit(prefix)))
    val agg = rows.select(checks.map { case (_, bad) => sum(when(bad, 1L).otherwise(0L)) } :+
      collect_set(col("d")): _*).head()
    checks.indices.find(i => !agg.isNullAt(i) && agg.getLong(i) > 0).foreach { i =>
      return Some(s"${agg.getLong(i)} sequences: ${checks(i)._1}")
    }
    val docs = agg.getSeq[Long](checks.size).toSet
    if (docs != keptIds)
      return Some(s"filter kept ${docs.size} docs, expected ${keptIds.size}")
    val rnd = new scala.util.Random(o.seed * 1000003L + passNo)
    val sample = rnd.shuffle(keptIds.toSeq.sorted).take(24)
    val got = rows.filter(col("d").isin(sample: _*))
      .select(col("d"), slice(col("s"), lit(2 + prefix.size), ki - 2 - prefix.size))
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getAs[collection.Seq[Long]](1).toSeq).toSeq }
    for (d <- sample) {
      val text = texts(d)
      val ids = tok.encode(text, addSpecialTokens = false)
      if (tok.decode(ids.toSeq, skipSpecialTokens = false) != text)
        return Some(s"doc $d: decode(encode(text)) != text")
      val want = expectedWindows(ids)
      val have = got.getOrElse(d, Nil)
      if (have.sortBy(_.mkString(",")) != want.sortBy(_.mkString(",")))
        return Some(s"doc $d: ${have.size} windows do not match the " +
          s"${want.size} stride windows over ${ids.length} tokens")
    }
    None
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Each module timed over its predecessor's output, cached off the
    * clock; then one sweep of the catalog subset. */
  override def layerProbe(ctx: Ctx): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    var in = corpus
    var inRows = corpus.count()
    val p = ctx.runPass {
      for ((layer, m) <- chain) {
        ctx.op(layer)(m(in))(noop)(_ => None)
        val next = m(in).persist()
        val rows = next.count()
        layer match {
          case "FilterOps" => out("FilterOps.kept_ratio") = rows.toDouble / inRows
          case "ShapeOps" => out("ShapeOps.rows_out_per_in") = rows.toDouble / inRows
          case "TokenizeOps" => out("TokenizeOps.tokens_out") =
            next.select(sum(size(col("input_ids")))).head().getLong(0).toDouble
          case _ => ()
        }
        if (in ne corpus) in.unpersist()
        in = next
        inRows = rows
      }
      ctx.op("SinkOps")(in)(sink)(_ => None)
    }
    in.unpersist()
    out.toMap ++ p.ops.map(r => Layers.busyName(r.layer) -> r.seconds) ++ catalog.sweep(ctx)
  }
}
