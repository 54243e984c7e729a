package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverFinish

/** The regime-dispatched dedup operators must produce identical
  * results on BOTH physical paths — the correctness gate only ever
  * exercises the dense/small path on the synthetic corpus, so the
  * sparse/scale path is pinned here by cross-checking. */
class DedupOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def shingles = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", explode(expr("shingles(text, 2)")).as("shingle"))
  }

  test("JaccardPairs: bitmap sweep equals inverted-index join exactly") {
    import spark.implicits._
    val sh = shingles
    val st = graft.operators.JaccardPairs.probe(sh)
    assert(st.useSweep)
    val a = graft.operators.JaccardPairs.pairsFromStats(sh, st, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val b = graft.operators.JaccardPairs.invertedIndexPairs(sh, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(a.nonEmpty)
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  test("MinHashLsh: sweep equals band join exactly") {
    import spark.implicits._
    val sh = shingles
    val hs = sh.withColumn("m1", md5($"shingle"))
      .withColumn("m2", md5(concat(lit("x"), $"shingle")))
    val sliceCols = (0 until 4).map(i => min(substring($"m1", i * 8 + 1, 8)).as(s"h$i")) ++
      (0 until 4).map(i => min(substring($"m2", i * 8 + 1, 8)).as(s"h${i + 4}"))
    val sigWide = hs.groupBy($"doc_id").agg(sliceCols.head, sliceCols.tail: _*)
    val a = graft.operators.MinHashLsh.sweepPairs(sigWide, 8, 0.25).get
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val b = graft.operators.MinHashLsh.bandJoinPairs(sigWide, 8, 0.25)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(a.nonEmpty)
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  test("Containment: bitmap sweep equals inverted-index join exactly") {
    import spark.implicits._
    val sh = shingles
    val st = graft.operators.JaccardPairs.probe(sh)
    assert(st.useSweep)
    val a = graft.operators.Containment.pairsFromStats(sh, st, 0.8)
      .orderBy($"doc_in", $"doc_out").collect().toSeq
    val b = graft.operators.Containment.invertedIndexPairs(sh, 0.8)
      .orderBy($"doc_in", $"doc_out").collect().toSeq
    assert(a.nonEmpty)
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // the measure is directional: at a low threshold some pair's two
    // directions carry different values (|A| != |B|) — otherwise the
    // op degenerates to q19's symmetric Jaccard
    val lo = graft.operators.Containment.invertedIndexPairs(sh, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lo.exists { case ((i, o), v) => lo.get((o, i)).exists(_ != v) })
  }

  test("shingles() equals the declarative transform pipeline as a set") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fast = docs.select($"doc_id", explode(expr("shingles(text, 2)")).as("shingle"))
    val slow = docs
      .select($"doc_id", split($"text", " ").as("ts"))
      .filter(size($"ts") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(ts)-1), i -> concat(element_at(ts, i), ' ', element_at(ts, i+1)))")).as("shingle"))
      .distinct()
    assert(fast.count() == fast.distinct().count()) // per-doc distinct already
    assert(fast.exceptAll(slow).count() == 0)
    assert(slow.exceptAll(fast).count() == 0)
  }

  /** Deterministic corpus with exact-duplicate vectors: every true
    * near-dup pair (cosine ~1 at a 0.95 threshold) shares an identical
    * LSH signature (Hamming 0), so the multi-probe candidate set is
    * guaranteed to contain it — the cross-check is deterministic, not
    * recall-probabilistic. */
  private def copyCorpus(nBase: Int, nCopies: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = (0 until nBase).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val copies = (0 until nCopies).map(j =>
      ((nBase + j).toLong, base(j % nBase)._2.clone()))
    (base ++ copies).toDF("vec_id", "embedding")
  }

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("vec_id_a", "vec_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("Similarity: LSH near-dup path equals exact sweep on a copy corpus") {
    val corpus = copyCorpus(40, 40)
    val exact = triples(graft.operators.Similarity
      .exactNearDupPairs(corpus, 0.95))
    val lsh = triples(graft.operators.Similarity
      .lshNearDupPairs(corpus, 0.95, dims = 64, nPlanes = 12, probeHamming = 1))
    assert(exact.nonEmpty)
    assert(exact == lsh)
  }

  test("Similarity: LSH near-dup output is always a subset of exact (precision 1)") {
    // low threshold admits plenty of non-copy pairs the LSH path may
    // legitimately miss — but everything it emits must pass the exact
    // cosine test
    val corpus = copyCorpus(60, 20)
    val exact = triples(graft.operators.Similarity
      .exactNearDupPairs(corpus, 0.2)).toSet
    val lsh = triples(graft.operators.Similarity
      .lshNearDupPairs(corpus, 0.2, dims = 64, nPlanes = 8, probeHamming = 1))
    assert(lsh.nonEmpty)
    assert(lsh.forall(exact.contains))
  }

  test("Similarity: nearDupPairs dispatches by pair-ops budget") {
    val corpus = copyCorpus(40, 40)
    val viaSweep = triples(graft.operators.Similarity
      .nearDupPairs(corpus, 0.95, dims = 64)) // default budget → sweep
    val viaLsh = triples(graft.operators.Similarity
      .nearDupPairs(corpus, 0.95, dims = 64, maxSweepPairOps = 1)) // 0-doc budget → LSH
    val exact = triples(graft.operators.Similarity.exactNearDupPairs(corpus, 0.95))
    assert(viaSweep == exact)
    assert(viaLsh == exact)
  }

  test("sweep guards are cost-modeled on pair-comparisons, not doc count") {
    // n²/2·k <= budget → n = sqrt(2·budget/k)
    assert(graft.operators.MinHashLsh.sweepDocBudget(8, 40000000000L) == 100000L)
    assert(graft.operators.MinHashLsh.sweepDocBudget(8, 1L) == 0L)
    assert(graft.operators.Similarity.sweepVecBudget(64, 40000000000L) == 35355L)
  }

  test("MinHashLsh: an over-budget signature table routes to the distributed band join") {
    import spark.implicits._
    val sh = shingles
    val hs = sh.withColumn("m1", md5($"shingle"))
      .withColumn("m2", md5(concat(lit("x"), $"shingle")))
    val sliceCols = (0 until 4).map(i => min(substring($"m1", i * 8 + 1, 8)).as(s"h$i")) ++
      (0 until 4).map(i => min(substring($"m2", i * 8 + 1, 8)).as(s"h${i + 4}"))
    val sigWide = hs.groupBy($"doc_id").agg(sliceCols.head, sliceCols.tail: _*)
    assert(DriverFinish.forceDistributed(
      graft.operators.MinHashLsh.sweepPairs(sigWide, 8, 0.25)).isEmpty)
    val (routed, events) = DriverFinishEvents.capture(spark) {
      DriverFinish.forceDistributed(graft.operators.MinHashLsh.pairs(sigWide, 8, 0.25))
    }
    assert(events.map(e => e.op -> e.path) == Seq("minhash_sweep" -> "distributed"))
    val dispatched = routed.orderBy($"doc_a", $"doc_b").collect().toSeq
    val band = graft.operators.MinHashLsh.bandJoinPairs(sigWide, 8, 0.25)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(dispatched.nonEmpty)
    assert(dispatched.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           band.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  test("JaccardPairs/Containment: over-cap vocabulary still sweeps when cheaper (cost model)") {
    import spark.implicits._
    // 30 documents over one 4 200-shingle vocabulary (past the classic
    // 4 096 cap), each missing a different 1/30 of it: every pair
    // shares ~93 %. The old dispatcher fell back to the inverted index
    // past the cap even when the dense sharing made that quadratically
    // worse — the cost model must keep the sweep, with identical results
    val sh = (for (d <- 0L until 30L; w <- 0 until 4200 if w % 30 != d)
      yield (d, s"w$w")).toDF("doc_id", "shingle")
    val st = graft.operators.JaccardPairs.probe(sh)
    assert(st.vocabN > graft.operators.JaccardPairs.DefaultMaxBitmapVocab)
    assert(st.sweepOps <= st.invCost && st.useSweep)
    val viaCost = graft.operators.JaccardPairs.pairsFromStats(sh, st, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val inv = graft.operators.JaccardPairs.invertedIndexPairs(sh, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(viaCost.nonEmpty)
    assert(viaCost.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           inv.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val cCost = graft.operators.Containment.pairsFromStats(sh, st, 0.8)
      .orderBy($"doc_in", $"doc_out").collect().toSeq
    val cInv = graft.operators.Containment.invertedIndexPairs(sh, 0.8)
      .orderBy($"doc_in", $"doc_out").collect().toSeq
    assert(cCost.nonEmpty)
    assert(cCost.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           cInv.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  test("JaccardPairs: budget/cost-model dispatch contract pinned on stats") {
    import spark.implicits._
    val sh = shingles
    // on this dense corpus the sweep is the cheaper regime and is taken
    val st = graft.operators.JaccardPairs.probe(sh)
    assert(st.sweepOps <= st.invCost)
    assert(st.useSweep)
    // the bitmap table is a DriverFinish decision: over the budget, no
    // driver sweep
    val (fits, events) = DriverFinishEvents.capture(spark) {
      DriverFinish.forceDistributed(st.useSweep)
    }
    assert(!fits)
    assert(events.map(e => (e.op, e.probeBytes, e.path)) ==
      Seq(("shingle_sweep", st.sweepBytes.toLong, "distributed")))
    // …and the sweep-favored dispatch is value-identical to the join
    val dispatched = graft.operators.JaccardPairs.pairs(sh, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val inv = graft.operators.JaccardPairs.invertedIndexPairs(sh, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(dispatched.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           inv.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // a sparse corpus (every shingle unique → invCost ≈ rows, sweep
    // still quadratic) past the classic vocabulary: the cost model
    // picks the inverted index
    def unique(n: Long) = (0L until n).map(d => (d, s"uniq$d")).toDF("doc_id", "shingle")
    val spSt = graft.operators.JaccardPairs.probe(unique(5000L))
    assert(spSt.vocabN > graft.operators.JaccardPairs.DefaultMaxBitmapVocab)
    assert(spSt.invCost < spSt.sweepOps)
    assert(!spSt.useSweep)
    // under the classic vocabulary the same shape sweeps regardless
    val smSt = graft.operators.JaccardPairs.probe(unique(256L))
    assert(smSt.invCost < smSt.sweepOps && smSt.useSweep)
  }

  test("JaccardPairs: distributed block sweep equals inverted join (multi-block)") {
    import spark.implicits._
    val sh = shingles
    // tiny block budget forces a real grid (many diagonal + bipartite
    // tasks); the pair set must still be exactly the join's
    val a = graft.operators.JaccardPairs
      .blockSweepPairs(sh, 0.5, targetBlockBytes = 32 * 1024)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val b = graft.operators.JaccardPairs.invertedIndexPairs(sh, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(a.nonEmpty)
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // dispatch contract: with the driver sweep over the budget on this
    // dense corpus, the cost model must route to the block sweep, never
    // the inverted join it costed out
    val st = graft.operators.JaccardPairs.probe(sh)
    assert(st.useBlockSweep)
    val dispatched = DriverFinish.forceDistributed(
        graft.operators.JaccardPairs.pairsFromStats(sh, st, 0.5))
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(dispatched.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  test("JaccardPairs: banded-verified pairs equal inverted join (forced + auto)") {
    import spark.implicits._
    val sh = shingles
    // the third dense regime (past the exact-sweep ops budget): banded
    // MinHash candidates + exact verification. On this corpus every
    // qualifying pair collides in some band (deterministic salted-md5
    // minhash — same corpus, same candidates, every run), so the
    // output is value-identical to the exact join; in general the
    // contract is exact VALUES with LSH-curve recall.
    for (t <- Seq(0.5, 0.8)) { // r=2 and r=3 banding branches
      val a = graft.operators.JaccardPairs.bandedVerifiedPairs(sh, t)
        .orderBy($"doc_a", $"doc_b").collect().toSeq
      val b = graft.operators.JaccardPairs.invertedIndexPairs(sh, t)
        .orderBy($"doc_a", $"doc_b").collect().toSeq
      assert(a.nonEmpty, s"threshold $t")
      assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
             b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))), s"threshold $t")
    }
    // auto-dispatch contract (the r12 footnote promoted to code): on a
    // dense corpus with the exact-sweep budget exhausted, pairsFromStats
    // must route to the banded path
    // itself — never the inverted index the cost model rejected, and
    // never an un-budgeted exact sweep
    val st = graft.operators.JaccardPairs.probe(sh)
    assert(st.dense && st.useBlockSweep)
    val dispatched = graft.operators.JaccardPairs
      .pairsFromStats(sh, st, 0.5, maxExactSweepOps = 0.0)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val inv = graft.operators.JaccardPairs.invertedIndexPairs(sh, 0.5)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(dispatched.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           inv.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // with the default budget the same stats stay on the exact path
    assert(st.sweepOps <= graft.operators.JaccardPairs.DefaultMaxExactSweepOps)
  }

  test("Containment: distributed block sweep equals inverted join (multi-block)") {
    import spark.implicits._
    val sh = shingles
    val a = graft.operators.Containment
      .blockSweepPairs(sh, 0.8, targetBlockBytes = 32 * 1024)
      .orderBy($"doc_in", $"doc_out").collect().toSeq
    val b = graft.operators.Containment.invertedIndexPairs(sh, 0.8)
      .orderBy($"doc_in", $"doc_out").collect().toSeq
    assert(a.nonEmpty)
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
           b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  test("minhash signature memo keys on (session, corpus) state") {
    // r17: q20/q85/q108/q113 share ONE signature build per
    // (session, dir) (the r9 shingleStats precedent). The memo must
    // key on BOTH fields, replace wholesale, and stay out of
    // cacheManager (order-coupled isEmpty asserts in other suites).
    val q = graft.queries.TextQueries
    val a = q.minhashSigWide(spark, "/root/testdata/sf0.001")
    assert(q.minhashSigWide(spark, "/root/testdata/sf0.001") eq a)
    val c = q.minhashSigWide(spark, "/root/testdata/sf0.01")
    assert(!(c eq a), "a different corpus must not serve the memo entry")
    // single-entry: returning to the first dir rebuilds (replaced wholesale)
    val a2 = q.minhashSigWide(spark, "/root/testdata/sf0.001")
    assert(!(a2 eq a) && (q.minhashSigWide(spark, "/root/testdata/sf0.001") eq a2))
    // values are the real signatures: one row per doc, 8 slice columns
    val nDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(a2.count() == nDocs && a2.columns.toSeq ==
      ("doc_id" +: (0 until 8).map(i => s"h$i")))
    assert(spark.sharedState.cacheManager.isEmpty,
      "memo must be checkpoint-backed, not cacheManager-backed")
  }

  test("shingles() edge cases: short text, empty tokens, n=3") {
    import spark.implicits._
    val df = Seq("one", "", "a b", "a  b", "x y z").toDF("text")
      .selectExpr("text", "shingles(text, 2) AS s2", "shingles(text, 3) AS s3")
      .collect()
    assert(df(0).getSeq[String](1) == Seq())           // 1 token
    assert(df(1).getSeq[String](1) == Seq())           // empty string → 1 empty token
    assert(df(2).getSeq[String](1) == Seq("a b"))
    assert(df(3).getSeq[String](1) == Seq("a ", " b")) // double space → empty middle token
    assert(df(4).getSeq[String](1) == Seq("x y", "y z"))
    assert(df(4).getSeq[String](2) == Seq("x y z"))
  }
}
