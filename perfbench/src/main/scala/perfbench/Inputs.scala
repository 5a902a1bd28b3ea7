package perfbench

import graft.synth.WebConfig
import graft.util.Hashing.{bounded, det}

/** Seeded inputs of every workload. The same seed always yields the same
  * inputs; the engine only ever receives what is generated here.
  */
object Inputs {

  /** One crawl: the web universe, the seed queries, the batch size and the
    * frontier expansion width handed to [[graft.pipeline.CrawlEngine]]. The
    * first `baseGenerations` build the state every unit starts from; a unit
    * runs the next `unitGenerations`.
    */
  final case class CrawlInput(cfg: WebConfig, batchSize: Int, expandTopK: Int,
                              autoMaintainSeenDirs: Int, baseGenerations: Int,
                              unitGenerations: Int, queries: Vector[String]) {
    def generations: Int = baseGenerations + unitGenerations
  }

  private val Topics = Array("hawker", "transit", "heritage", "coast", "museum",
    "festival", "policy", "wildlife", "skyline", "market", "temple", "library")

  private def queries(seed: Long, n: Int): Vector[String] =
    (0 until n).map { i =>
      val a = Topics(bounded(det(seed, "qa", i), Topics.length))
      val b = Topics(bounded(det(seed, "qb", i), Topics.length))
      s"singapore $a $b $i"
    }.toVector

  /** Small generations over a small host universe, so about a third of a
    * later generation's candidates are already seen: the tiers, the exact
    * anti-join chain, host politeness state, frontier picks and in-run
    * compaction all run in a unit's generation. The compaction cadence is
    * lowered so it fires within the crawl.
    */
  def crawlDeep(seed: Long): CrawlInput = {
    val batch = 8
    val base = 1
    val unit = 1
    CrawlInput(WebConfig(seed = seed, nHosts = 3, resultsPerPage = 100, bodyElems = 30),
      batch, expandTopK = 2, autoMaintainSeenDirs = 2, base, unit,
      queries(seed, batch * (base + unit)))
  }

  /** The near-duplicate corpus, already split into micro-batch files. */
  final case class Corpus(files: Vector[Vector[(Long, String)]], planted: Set[(Long, Long)])

  /** The first `BaseFiles` files build the state every unit starts from; a
    * unit drains the rest, one micro-batch each.
    */
  val BaseFiles = 1
  val CorpusFiles = 2
  private val DocsPerFile = 250
  private val Vocabulary = 20000

  /** Random-word documents with planted near-duplicate clusters of 2-4
    * docs. A copy is its original with one token appended, prepended or
    * dropped at the end, so every pair inside a cluster sits near Jaccard
    * 0.98 on both word and 3-shingle sets, and unrelated documents share
    * almost nothing: the exact pair set is the same at thresholds 0.8 and
    * 0.9 and for both token definitions. Every eighth doc is an original;
    * its copies land in its own file or in the next one, so pairs form both
    * inside a micro-batch and across micro-batches. The cluster layout is
    * the same for every seed, and only the words change, so the work a
    * micro-batch does (which depends on the pairs it finds) does not vary
    * with the seed.
    */
  def neardup(seed: Long): Corpus = {
    val files = Array.fill(CorpusFiles)(Vector.newBuilder[(Long, String)])
    val planted = Set.newBuilder[(Long, Long)]
    def token(h: Long): String = s"w${bounded(h, Vocabulary)}"
    var nextId = 1L
    for (f <- 0 until CorpusFiles; i <- 0 until DocsPerFile) {
      val h = det(seed, "doc", f, i)
      val len = 80 + bounded(det(h, "len"), 80)
      val words = (0 until len).map(j => token(det(h, "w", j))).toVector
      val id = nextId; nextId += 1
      files(f) += id -> words.mkString(" ")
      if (i % 8 == 0) {
        val cluster = i / 8
        val ids = (0 until 1 + cluster % 3).map { c =>
          val ch = det(h, "copy", c)
          val text = (cluster + c) % 3 match {
            case 0 => (words :+ token(det(ch, "extra"))).mkString(" ")
            case 1 => (token(det(ch, "extra")) +: words).mkString(" ")
            case _ => words.init.mkString(" ")
          }
          val target = if ((cluster + c) % 2 == 1 && f + 1 < CorpusFiles) f + 1 else f
          val cid = nextId; nextId += 1
          files(target) += cid -> text
          cid
        }
        val members = id +: ids
        for (a <- members; b <- members if a < b) planted += a -> b
      }
    }
    Corpus(files.map(_.result()).toVector, planted.result())
  }
}
