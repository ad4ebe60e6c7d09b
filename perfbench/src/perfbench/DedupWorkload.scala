package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Near-duplicate detection over one cached corpus with planted near-dup
  * clusters and shared boilerplate. A pass calls five operator families in
  * turn; every emitted pair is re-checked here against its threshold with
  * plain Scala set arithmetic, and recall is measured on the planted
  * pairs. */
final class DedupWorkload(o: Opts) extends Workload {
  private val Shingle = 3
  private val MinJaccard = 0.5
  private val Bands = 8
  private val SigLen = 16
  private val PrefixPpm = 500000L
  private val PrefixCap = 16
  private val MaxShingleDf = 8L
  private val MinContainment = 0.8
  private val GramLen = 50
  private val MinShared = 3
  private val FpCap = 16

  private val truth = new ObjectMapper().readTree(o.input.resolve("truth.json").toFile)
  private val planted: Seq[(Long, Long)] = {
    val b = Seq.newBuilder[(Long, Long)]
    truth.get("planted_pairs").elements().forEachRemaining(p =>
      b += ((p.get(0).asLong(), p.get(1).asLong())))
    b.result()
  }
  val docsPerPass: Long = truth.get("props").get("docs").asLong()

  private var corpus: DataFrame = _
  private var fps: DataFrame = _
  private var texts: Map[Long, String] = Map.empty
  private var shingles: Map[Long, Set[String]] = Map.empty
  private var fpSets: Map[Long, Set[Long]] = Map.empty
  private var expectedText: Map[Long, String] = Map.empty
  private val recalls = mutable.Map.empty[String, Double]

  def warmupParquet: String = o.input.resolve("corpus.parquet").toString

  def setup(s: SparkSession): Unit = {
    corpus = s.read.parquet(o.input.resolve("corpus.parquet").toString)
      .repartition(2 * o.cores, col("doc_id"))
      .withColumn("words", split(col("text"), " "))
      .withColumn("sh", TextShingles.shingles(col("words"), Shingle))
      .persist()
    corpus.count()
    fps = corpus.select(col("doc_id"),
        array_distinct(transform(Winnowing.fingerprints(col("words"), k = 3, w = 4),
          fp => fp.getField("hash"))).as("fps"))
      .persist()
    fps.count()
  }

  private def shingleSet(text: String): Set[String] = {
    val w = text.split(" ")
    if (w.length >= Shingle) w.sliding(Shingle).map(_.mkString(" ")).toSet
    else Set(w.mkString(" "))
  }

  override def prepareChecks(s: SparkSession): Unit = {
    texts = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    shingles = texts.map { case (d, t) => d -> shingleSet(t) }
    fpSets = fps.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    expectedText = spanRemoval(texts)
  }

  /** Exact-substring span removal, written independently: every
    * occurrence of a duplicated gramLen-char window other than its first
    * (smallest (doc id, position)) is cut, overlapping cuts merged. */
  private def spanRemoval(texts: Map[Long, String]): Map[Long, String] = {
    def h(s: String): Long =
      (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    val first = new java.util.HashMap[Long, Long]()
    val grams = texts.map { case (d, t) =>
      val hs = Array.tabulate(math.max(0, t.length - GramLen + 1))(p =>
        h(t.substring(p, p + GramLen)))
      hs.zipWithIndex.foreach { case (g, p) =>
        val key = (d << 32) | p
        if (!first.containsKey(g) || key < first.get(g)) first.put(g, key)
      }
      d -> hs
    }
    grams.map { case (d, hs) =>
      val t = texts(d)
      val cut = new Array[Boolean](t.length)
      hs.zipWithIndex.foreach { case (g, p) =>
        if (first.get(g) != ((d << 32) | p)) (p until p + GramLen).foreach(cut(_) = true)
      }
      d -> t.indices.filterNot(cut).map(t.charAt).mkString
    }
  }

  private def inter(a: Set[String], b: Set[String]): Long =
    (if (a.size <= b.size) a.count(b) else b.count(a)).toLong

  private def recall(name: String, found: (Long, Long) => Boolean): Unit =
    recalls(name) = planted.count { case (a, b) => found(a, b) }.toDouble /
      math.max(1, planted.size)

  private def pairs(df: DataFrame): Array[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  def pass(ctx: Ctx): Unit = {
    ctx.op("DedupOps.minhash")(MinHashLSH.dedup(corpus.select("doc_id", "words"),
        "words", "doc_id", Shingle, SigLen, Bands, MinJaccard))(
      _.select("doc_id").collect().map(_.getLong(0)).toSet) { kept =>
      val removed = texts.keySet -- kept
      val bad = removed.find { b =>
        !texts.keysIterator.exists { a =>
          a < b && { val i = inter(shingles(a), shingles(b))
            i.toDouble / (shingles(a).size + shingles(b).size - i) >= MinJaccard }
        }
      }
      recall("minhash", (_, b) => removed(b))
      bad.map(b => s"doc $b removed without a verified near-duplicate")
    }

    ctx.op("MatchOps.prefixjoin")(PrefixFilterJoin.pairs(corpus.select("doc_id", "sh"),
        "doc_id", "sh", PrefixPpm, maxPrefixDf = Some(PrefixCap)))(pairs) { ps =>
      val bad = ps.find { case (a, b, ppm) =>
        val (x, y) = (shingles(a), shingles(b))
        val i = inter(x, y)
        val u = x.size + y.size - i
        a >= b || ppm != 1000000L * i / u || 1000000L * i < PrefixPpm * u
      }
      val found = ps.map(p => (p._1, p._2)).toSet
      recall("prefixjoin", (a, b) => found((a, b)))
      bad.map(p => s"prefix-join pair $p fails its Jaccard threshold")
    }

    ctx.op("DedupOps.exactsubstr")(ExactSubstrDedup.removeDuplicateSpans(
        corpus.select("doc_id", "text"), "doc_id", "text", gramLen = GramLen))(
      _.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))) { out =>
      if (out.length != texts.size) Some(s"${out.length} docs out, ${texts.size} in")
      else out.find { case (d, t) => expectedText(d) != t }
        .map { case (d, _) => s"doc $d: span removal differs from the reference" }
    }

    ctx.op("DedupOps.containment")(MinHashLSH.containmentPairs(
        corpus.select("doc_id", "words"), "words", "doc_id", Shingle,
        MaxShingleDf, MinContainment))(pairs) { ps =>
      val bad = ps.find { case (a, b, c) =>
        val (x, y) = (shingles(a), shingles(b))
        val i = inter(x, y)
        val m = math.min(x.size, y.size)
        c != 1000000L * i / m || 1000000L * i < math.floor(1e6 * MinContainment).toLong * m
      }
      val found = ps.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      recall("containment", (a, b) => found((a, b)))
      bad.map(p => s"containment pair $p fails its threshold")
    }

    ctx.op("CorpusOps.fingerprint")(FingerprintOverlap.candidatePairs(fps,
        "doc_id", "fps", MinShared, Some(FpCap)))(pairs) { ps =>
      // the posting cap may drop a shared fingerprint from one side, so
      // the count is bounded by the true overlap, not equal to it
      val bad = ps.find { case (a, b, n) =>
        a >= b || n < MinShared || n > fpSets(a).count(fpSets(b))
      }
      val found = ps.map(p => (p._1, p._2)).toSet
      recall("fingerprint", (a, b) => found((a, b)))
      bad.map(p => s"fingerprint pair $p: shared count exceeds the true overlap")
    }
  }

  /** Candidate and verified pair counts. MinHash candidates come from
    * the same banding the dedup op uses and are verified here; the prefix
    * join's candidates are read from its executed plan (the distinct
    * (id_a, id_b) aggregate feeding its verify join). */
  override def layerProbe(ctx: Ctx): Map[String, Double] = {
    var cand = Array.empty[(Long, Long)]
    var emitted = 0L
    val p = ctx.runPass {
      ctx.op("DedupOps.candidates")(MinHashLSH.candidatePairs(
          MinHashSignature("words", Shingle, SigLen)(corpus.select("doc_id", "words")),
          "doc_id", "minhash_sig", Bands, SigLen))(
        _.collect().map(r => (r.getLong(0), r.getLong(1)))) { c => cand = c; None }
      ctx.op("MatchOps.prefixjoin")(PrefixFilterJoin.pairs(corpus.select("doc_id", "sh"),
          "doc_id", "sh", PrefixPpm, maxPrefixDf = Some(PrefixCap)))(_.count()) { n =>
        emitted = n; None }
    }
    val verified = cand.count { case (a, b) =>
      val i = inter(shingles(a), shingles(b))
      i.toDouble / (shingles(a).size + shingles(b).size - i) >= MinJaccard
    }
    val matchCand = p.ops.filter(_.layer == "MatchOps.prefixjoin")
      .flatMap(_.plans.flatMap(_.pairKeyRows)).sorted.headOption.getOrElse(0L)
    Map(
      "DedupOps.candidate_pairs" -> cand.length.toDouble,
      "DedupOps.verified_pairs" -> verified.toDouble,
      "DedupOps.useful_ratio" -> verified.toDouble / math.max(1, cand.length),
      "MatchOps.candidate_pairs" -> matchCand.toDouble,
      "MatchOps.useful_ratio" -> emitted.toDouble / math.max(1L, matchCand),
      "dup_recall" -> (if (recalls.isEmpty) 0.0 else recalls.values.min))
  }
}
