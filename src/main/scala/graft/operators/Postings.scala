package graft.operators

import graft.functions.functions.{collect_min_k, pair_combos}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The inverted-index candidate generator behind every pair-producing
  * operator ([[PrefixFilterJoin]], [[MinHashLSH]] banding and
  * containment, [[FingerprintOverlap]], [[SimHashNearDup]],
  * [[SemDeDup]]): rows of `keyed` that share the value of `keys` pair up
  * as `(id_a, id_b)` with `id_a < id_b`, ONE row per shared key — the
  * caller applies `distinct()` or counts the shared keys.
  *
  * `member` is the row's id, or a struct whose FIRST field is the id and
  * whose other fields carry what the verify stage needs (struct order is
  * field order and ids are unique within a posting, so pair orientation
  * and cap selection are decided by the id alone). */
object Postings {

  sealed trait Cap

  /** The equi self-join on `keys` with `a.member < b.member`. Streams:
    * no posting is ever collected into one row, because `pair_combos`
    * would materialise a hot key's n(n−1)/2 pairs in a single row. */
  case object Uncapped extends Cap

  /** A posting keeps the `n` members ranked first by `(rank, member)`
    * through a bounded heap, so join work is at most n² per key and a
    * hot key never buffers more than `n` members in any task. The caller
    * salts `rank` with the key, so each posting keeps a different subset
    * and a hot member is not the one dropped everywhere. */
  final case class KeepFirst(n: Int, rank: Column) extends Cap

  /** A posting with more than `n` members pairs nothing. The heap keeps
    * `n + 1`: a posting that reaches `n + 1` members is oversized, and
    * that is all the size filter needs to know, so no buffer grows past
    * `n + 1` either. */
  final case class DropOver(n: Int) extends Cap

  /** `KeepFirst(n, rank)` when a cap is set, else `Uncapped`. */
  def keepFirst(cap: Option[Int], rank: Column): Cap =
    cap.fold[Cap](Uncapped)(KeepFirst(_, rank))

  def pairs(keyed: DataFrame, keys: Seq[Column], member: Column, cap: Cap): DataFrame = {
    val ks = keys.indices.map(i => s"__pk$i")
    def postings(m: Column) =
      keyed.select(keys.zip(ks).map { case (k, n) => k.as(n) } :+ m.as("__pm"): _*)
    def combos(kept: DataFrame) = kept
      .select(explode(pair_combos(col("__pl"))).as("__pp"))
      .select(col("__pp").getField("id_a").as("id_a"), col("__pp").getField("id_b").as("id_b"))
    cap match {
      case Uncapped =>
        val p = postings(member)
        p.as("a")
          .join(p.as("b"), ks.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
            col("a.__pm") < col("b.__pm"))
          .select(col("a.__pm").as("id_a"), col("b.__pm").as("id_b"))
      case KeepFirst(n, rank) =>
        combos(postings(struct(rank.as("h"), member.as("m")))
          .groupBy(ks.map(col): _*)
          .agg(collect_min_k(col("__pm"), n).as("__pl"))
          .select(transform(col("__pl"), _.getField("m")).as("__pl")))
      case DropOver(n) =>
        combos(postings(member)
          .groupBy(ks.map(col): _*)
          .agg(collect_min_k(col("__pm"), n + 1).as("__pl"))
          .filter(size(col("__pl")) <= n))
    }
  }
}
