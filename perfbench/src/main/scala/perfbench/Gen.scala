package perfbench

import graft.corpus.Corpus
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** One request of a generated query stream. `cls` is the generator's class
  * (which route the request was drawn to exercise), not the route the engine
  * took; the engine's route is read back from its counters.
  */
final case class Req(
    stream: Long,
    idx: Int,
    cls: String,
    terms: Seq[String],
    k: Int,
    conjunctive: Boolean = false,
    scope: Option[Seq[String]] = None) {
  def queryId: String = s"s$stream-r$idx"
}

/** Seeded inputs: the TPC-H-shaped key tables the engine's corpus
  * synthesis reads and the query streams depend on the seed alone (the
  * ingest slice is a seeded hash split, [[Table]]).
  */
object Gen {

  /** The hot vocabulary: every synthesized keyword plus the two structural
    * tokens every document carries.
    */
  val Keywords: IndexedSeq[String] =
    (Corpus.KwA ++ Corpus.KwB ++ Corpus.KwC ++ Corpus.KwD ++ Seq("func", "package")).toIndexedSeq

  /** Orders per corpus. About four line items per order gives ~50k
    * documents: enough that every keyword clears the engine's fast-list
    * threshold (`IndexBuilder.FastMinDf`, the rarest keyword family has df ≈
    * N/10), so routing matches the one at larger scale. Build and add costs
    * are mostly fixed per call at this size, not per document.
    */
  val Orders: Int = 12500

  /** Number of synthetic repos in [[Corpus]] (`repo-<suppkey % 50>`). */
  val Repos: Int = 50

  /** TPC-H-shaped key columns: `orders(o_orderkey, o_custkey)` and
    * `lineitem(l_orderkey, l_partkey, l_suppkey, l_linenumber,
    * l_returnflag)`, with TPC-H's cardinality ratios (200k parts, 10k
    * suppliers and 150k customers per 1.5M orders).
    */
  final class Tpch(val orders: Array[(Long, Long)], val lines: Array[(Long, Long, Long, Int, String)]) {
    /** The rare identifier each line item puts into its document. */
    def rareTerms: IndexedSeq[String] = lines.iterator.map { l => s"handler_${l._1}_${l._4}" }.toIndexedSeq
  }

  def tpch(seed: Long): Tpch = {
    val r = new SplittableRandom(seed)
    val parts = math.max(8, (Orders.toLong * 200000 / 1500000).toInt)
    val supps = math.max(Repos, (Orders.toLong * 10000 / 1500000).toInt)
    val custs = math.max(20, (Orders.toLong * 150000 / 1500000).toInt)
    val orders = Array.tabulate(Orders)(i => (4L * i + 1 + r.nextInt(4), 1L + r.nextInt(custs)))
    val lines = orders.flatMap { case (ok, _) =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        (ok, 1L + r.nextInt(parts), 1L + r.nextInt(supps), ln, "ANR".charAt(r.nextInt(3)).toString)
      }
    }
    new Tpch(orders, lines)
  }

  /** Writes the key tables where [[Corpus.corpus]] reads them. */
  def writeTpch(spark: SparkSession, t: Tpch, dir: String): Unit = {
    import spark.implicits._
    t.orders.toSeq.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    t.lines.toSeq.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
  }

  /** Per-request RNG: request i is the same whichever client draws it. */
  private def rng(seed: Long, stream: Long, i: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i)

  /** Requests of each class per block of [[BlockSize]] stream positions,
    * each block in a seeded order, so a run of whole pairs of blocks has a
    * fixed class composition whatever the seed. Even blocks carry a rare and a
    * conjunctive request, odd blocks a scoped and a hybrid one, so two
    * consecutive blocks hold every class. Only the fast route is
    * driver-local at this scale; the others run Spark jobs. Half of the
    * requests are WAND-class, so the median falls well inside the WAND band
    * (the per-class medians each run prints show where each class falls).
    */
  private val Blocks: IndexedSeq[IndexedSeq[String]] = {
    val common = Seq("fast", "fast", "absent") ++ Seq.fill(5)("wand")
    IndexedSeq((common ++ Seq("rare", "and")).toIndexedSeq, (common ++ Seq("scoped", "hybrid")).toIndexedSeq)
  }

  val Classes: Seq[String] = Seq("fast", "absent", "rare", "wand", "scoped", "and", "hybrid")

  val BlockSize: Int = 10

  /** WAND-class request shapes (keyword families, k), one per WAND slot of
    * a block, so every run holds the same mix of posting-list lengths: the
    * families differ in document frequency (KwD ≈ N/3, KwB ≈ N/6, KwA ≈
    * N/8, KwC ≈ N/10, `func` and `package` ≈ N), while the term within each
    * family is drawn from the seed. The last shape is one keyword with k
    * above the fast lists' depth.
    */
  private val WandShapes: IndexedSeq[(Seq[Seq[String]], Int)] = {
    import Corpus._
    val deep = graft.index.IndexBuilder.FastK + 100
    IndexedSeq(Seq(KwA, KwB) -> 10, Seq(KwC, KwD) -> 20, Seq(KwA, KwC, KwD) -> 10,
      Seq(KwB, Seq("func", "package")) -> 10, Seq(KwB) -> deep)
  }

  /** Request `i` of stream number `stream` for `seed`: the serve mix, or
    * only the class `only`.
    */
  def request(seed: Long, stream: Long, i: Int, rare: IndexedSeq[String], only: Option[String] = None): Req = {
    // the class, and how many requests of that class precede it in its block
    val (cls, slot) = only.map(_ -> i).getOrElse {
      val block = new scala.util.Random(seed * 31 + stream * 1000003L + i / BlockSize)
        .shuffle(Blocks((i / BlockSize) % 2))
      val j = i % BlockSize
      (block(j), block.take(j).count(_ == block(j)))
    }
    val r = rng(seed, stream, i)
    def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))
    def keywords(n: Int): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      while (out.size < n) out += pick(Keywords)
      out.toSeq
    }
    cls match {
      case "fast" => Req(stream, i, cls, keywords(1), pick(IndexedSeq(1, 5, 10, 10, 20, 50, 100)))
      case "hybrid" => Req(stream, i, cls, keywords(1) :+ pick(rare), pick(IndexedSeq(10, 20)))
      case "rare" => Req(stream, i, cls, Seq(pick(rare)), 10)
      case "absent" => Req(stream, i, cls, Seq(s"nohit_${r.nextInt(1 << 30)}"), 10)
      case "wand" =>
        // 2-3 hot keywords (no prefix union is sound), or one keyword with
        // k above the fast lists' depth
        val (families, k) = WandShapes(slot % WandShapes.size)
        Req(stream, i, cls, families.map(f => pick(f.toIndexedSeq)), k)
      case "scoped" =>
        val repos = Seq.fill(3)(s"repo-${r.nextInt(Repos)}").distinct
        Req(stream, i, cls, keywords(1 + r.nextInt(2)), 10, scope = Some(repos))
      case "and" => Req(stream, i, cls, keywords(2), 10, conjunctive = true)
    }
  }
}
