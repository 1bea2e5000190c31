package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different text with no shared phrasing at all"),
    (5L, "ab")                                             // < 3 tokens
  ).toDF("doc_id", "text")

  test("exactGroups collapses identical texts") {
    val grp = Dedup.exactGroups(docs).select("keep_id", "n_dups")
      .as[(Long, Long)].collect().toMap
    assert(grp(1L) == 2L) // docs 1,2
    assert(grp(3L) == 1L)
    assert(grp.size == 4)
  }

  test("shingles are word 3-grams; short docs drop out") {
    val sh = Dedup.shingles(docs.where($"doc_id".isin(1L, 5L)))
      .as[(Long, String)].collect()
    assert(sh.forall(_._1 == 1L))
    assert(sh.length == 7) // 9 tokens -> 7 shingles
    assert(sh.map(_._2).contains("the quick brown"))
  }

  test("minhash signatures: identical docs get identical signatures") {
    val sig = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
  }

  test("LSH candidate pairs find exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashCandidatePairs(docs)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard: exact dup = 1.0, near dup high, different low") {
    val j = Dedup.ngramJaccardPairs(docs, threshold = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.4 && j((1L, 3L)) < 1.0)
    assert(!j.contains((1L, 4L)))
  }

  test("simhash: identical docs equal; near dups within small hamming distance") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val hamNear = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hamFar = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hamNear < hamFar, s"near=$hamNear far=$hamFar")
  }

  test("row-local signature columns equal the shuffled signatures") {
    val viaAgg = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val viaRow = docs.select(col("doc_id") +: Dedup.minhashSignatureCols(col("text")): _*)
      .where(col("h0").isNotNull) // short docs have no shingles
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(viaRow == viaAgg)
    // short doc: null components row-locally, absent in the agg form
    val short = docs.where($"doc_id" === 5L)
      .select(Dedup.minhashSignatureCols(col("text")): _*).head()
    assert(short.isNullAt(0))
  }

  test("dedupClusters resolves transitive chains to one survivor; singletons keep themselves") {
    val clusters = Dedup.dedupClusters(docs).as[(Long, Long)].collect().toMap
    // every doc present
    assert(clusters.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // the pair graph on the fixture: verify against its actual components
    val pairs = Dedup.minhashCandidatePairs(docs).as[(Long, Long)].collect()
    val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    def component(start: Long): Set[Long] = {
      var seen = Set(start); var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      seen
    }
    clusters.foreach { case (d, keep) => assert(keep == component(d).min, s"doc $d") }
    // docs 4 and 5 share no shingles with anything: their own keepers
    assert(clusters(4L) == 4L && clusters(5L) == 5L)
    // exact dups 1 and 2 collapse to 1
    assert(clusters(1L) == 1L && clusters(2L) == 1L)
  }

  test("dedupClusters closes a transitive A~B~C chain even when A and C share no band") {
    // B overlaps A heavily and C heavily; A and C share fewer shingles —
    // clustering must still put all three in one component if LSH links
    // A-B and B-C (chain closure, the non-transitivity case).
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta lambda mu"),
      (3L, "gamma delta epsilon zeta eta theta lambda mu nu xi"),
      (9L, "unrelated words entirely different from the other documents here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(chain).as[(Long, Long)].collect().toSet
    assume(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
    val clusters = Dedup.dedupClusters(chain).as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(9L) == 9L)
  }

  test("dropExactDuplicates keeps the min-id doc per text, all columns intact") {
    val kept = Dedup.dropExactDuplicates(docs).as[(Long, String)].collect().toMap
    assert(kept.keySet == Set(1L, 3L, 4L, 5L)) // doc 2 (dup of 1) dropped
    assert(kept(1L).startsWith("the quick")) // text column survives
  }

  test("dropNearDuplicates keep-first: greater member of each verified pair dropped") {
    val kept = Dedup.dropNearDuplicates(docs, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // verified pairs on the fixture: (1,2) exact, (1,3)/(2,3) near
    val losers = Dedup.nearDupPairs(docs, threshold = 0.5)
      .select("doc_b").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 5L) -- losers)
    assert(kept.contains(1L) && kept.contains(4L) && kept.contains(5L))
    assert(!kept.contains(2L) && !kept.contains(3L))
  }

  test("duplicatedSpans: maximal k-window runs, cross-doc and within-doc") {
    // docs A/B share the 10-token prefix; C repeats its own 4-token
    // phrase twice; D shares nothing at k = 4
    val corpus = Seq(
      (1L, "a b c d e f g h i j unique1 tail1 x1 y1"),
      (2L, "a b c d e f g h i j unique2 tail2 x2 y2"),
      (3L, "p q r s mid1 mid2 mid3 mid4 mid5 p q r s"),
      (4L, "entirely fresh words nothing matches anywhere here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, k = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    // A/B: windows at pos 1..7 all duplicated -> one span 1..10
    // C: "p q r s" at pos 1 and pos 10 -> two spans of exactly k
    assert(spans == Set(
      (1L, 1L, 10L, 10L), (2L, 1L, 10L, 10L),
      (3L, 1L, 4L, 4L), (3L, 10L, 13L, 4L)))
    // span_tokens is always >= k, and every doc-4 position is uncovered
    assert(spans.forall(_._4 >= 4L))
  }

  test("removeDuplicatedSpans excises exactly the reported intervals") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j unique1 tail1 x1 y1"),
      (2L, "a b c d e f g h i j unique2 tail2 x2 y2"),
      (3L, "p q r s mid1 mid2 mid3 mid4 mid5 p q r s"),
      (4L, "entirely fresh words nothing matches anywhere here"),
      (5L, "a b")                                  // < k tokens: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, k = 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("unique1 tail1 x1 y1", 10L)))
    assert(out(2L) == (("unique2 tail2 x2 y2", 10L)))
    assert(out(3L) == (("mid1 mid2 mid3 mid4 mid5", 8L)))
    assert(out(4L) == (("entirely fresh words nothing matches anywhere here", 0L)))
    assert(out(5L) == (("a b", 0L)))
  }

  test("ngrams generalizes shingles; contamination report counts shared grams") {
    val four = Dedup.ngrams(docs.where($"doc_id" === 1L), 4)
      .as[(Long, String)].collect()
    assert(four.length == 6) // 9 tokens -> 6 4-grams
    assert(four.map(_._2).contains("the quick brown fox"))

    // doc 3 shares 4-grams with doc 1 ("quick brown fox jumps" etc);
    // doc 4 shares none
    val bench = docs.where($"doc_id" === 1L)
    val train = docs.where($"doc_id".isin(3L, 4L))
    val report = Dedup.contaminationReport(train, bench, 4)
      .as[(Long, Long)].collect().toMap
    assert(report.contains(3L) && report(3L) >= 1L)
    assert(!report.contains(4L))
    val clean = Dedup.decontaminate(train, bench, 4)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(4L))
  }

  test("contaminationReport join-before-distinct equals the naive form") {
    // The r16 rewrite drops non-matching train grams map-side BEFORE
    // the distinct's shuffle; the law is exact equality with the
    // distinct-then-join formulation on a corpus slice with repeated
    // grams on both sides.
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val bench = corpus.where($"doc_id" % 7 === 1)
    val train = corpus.where($"doc_id" % 7 =!= 1)
    for (n <- Seq(2, 4)) {
      val naive = Dedup.ngrams(train, n).distinct()
        .join(Dedup.ngrams(bench, n).select($"s").distinct(), "s")
        .groupBy($"id".as("doc_id")).agg(count(lit(1)).as("n_hits"))
        .as[(Long, Long)].collect().toMap
      val got = Dedup.contaminationReport(train, bench, n)
        .as[(Long, Long)].collect().toMap
      assert(got == naive, s"n=$n")
    }
  }

  test("leakageSafeSplits: no near-dup cluster straddles splits; total partition") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Dedup.leakageSafeSplits(corpus, splits)
      .select("doc_id", "keep_id", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length == corpus.count())
    // every member of a cluster lands in its representative's split
    assert(out.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1))
    // the property is non-vacuous: the fixture has multi-doc clusters
    assert(out.groupBy(_._2).values.exists(_.length > 1))
    // and the assignment is exactly assignSplits on keep_id
    val byRep = Sampling.assignSplits(
        out.map(r => (r._1, r._2)).toSeq.toDF("doc_id", "keep_id"),
        col("keep_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.forall(r => byRep(r._1) == r._3))
  }

  test("bloomDecontaminate == decontaminate (lossless prefilter law)") {
    val bench = docs.where($"doc_id" === 1L)
    val train = docs.where($"doc_id".isin(3L, 4L, 5L))
    val exact = Dedup.decontaminate(train, bench, 4)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.bloomDecontaminate(train, bench, 4)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom == exact)
    assert(bloom == Set(4L, 5L)) // doc 3 shares 4-grams with bench doc 1
    // empty benchmark: train passes through untouched
    val all = Dedup.bloomDecontaminate(train, bench.where(lit(false)), 4)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(3L, 4L, 5L))
  }

  test("stop-shingle DF filter removes boilerplate candidates, keeps real near-dups") {
    // every doc carries the same LONG footer (it dominates the shingle
    // set, as site boilerplate does); docs 1/2 are also REAL near-dups
    val footer = "this content is provided as is without warranty of any kind see terms"
    val boiler = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $footer"),
      (2L, s"alpha beta gamma delta epsilon eta $footer"),
      (3L, s"totally different words $footer"),
      (4L, s"nothing shared here $footer"))
      .toDF("doc_id", "text")
    val unfiltered = Dedup.minhashCandidatePairs(boiler)
      .as[(Long, Long)].collect().toSet
    // the footer makes unrelated docs collide
    assume(unfiltered.exists(p => p._1 >= 3L || p._2 >= 3L))
    val filtered = Dedup.minhashCandidatePairsFiltered(boiler, maxShingleDf = 3)
      .as[(Long, Long)].collect().toSet
    assert(filtered.contains((1L, 2L))) // the real near-dup survives
    assert(!filtered.exists(p => p._1 >= 3L || p._2 >= 3L)) // boilerplate pairs gone
    // dropStopShingles removes exactly the grams with df > maxDf
    val sh = Dedup.shingles(boiler)
    val kept = Dedup.dropStopShingles(sh, maxDf = 3)
    val df = sh.distinct().groupBy("s").count()
      .as[(String, Long)].collect().toMap
    val removed = sh.select("s").except(kept.select("s")).as[String].collect().toSet
    assert(removed.nonEmpty)
    assert(removed == df.filter(_._2 > 3).keySet)
  }

  test("dedupClustersGraphX equals the label-propagation loop") {
    val viaLoop = Dedup.dedupClusters(docs).as[(Long, Long)].collect().toMap
    val viaGx = Dedup.dedupClustersGraphX(docs).as[(Long, Long)].collect().toMap
    assert(viaGx == viaLoop)
    // and on the transitive chain fixture
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta lambda mu"),
      (3L, "gamma delta epsilon zeta eta theta lambda mu nu xi"),
      (9L, "unrelated words entirely different from the other documents here"))
      .toDF("doc_id", "text")
    assert(Dedup.dedupClustersGraphX(chain).as[(Long, Long)].collect().toMap ==
      Dedup.dedupClusters(chain).as[(Long, Long)].collect().toMap)
  }

  test("simhashNearPairs buckets catch the identical pair") {
    val pairs = Dedup.simhashNearPairs(docs, maxDist = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("decontaminateSpans cuts exactly the benchmark-overlapping run, hand-exact") {
    val d = Seq(
      (100L, "q1 q2 q3 q4 q5 q6 q7 q8 tail1"),      // benchmark
      (1L, "a b q1 q2 q3 q4 q5 q6 q7 q8 c d"),      // one leaked 8-gram
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),           // clean, windowed
      (3L, "tiny doc"))                              // clean, sub-k
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(d, col("doc_id") >= 100)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // benchmark docs never appear in the output; train docs all do
    assert(out.keySet == Set(1L, 2L, 3L))
    // the single marked window (q1..q8 at pos 3) excises tokens 3..10
    assert(out(1L) == (("a b c d", 8L)))
    assert(out(2L) == (("x1 x2 x3 x4 x5 x6 x7 x8 x9", 0L)))
    assert(out(3L) == (("tiny doc", 0L)))

    // disjoint benchmark: every train doc passes through untouched
    val clean = Dedup.decontaminateSpans(
        d.where(col("doc_id") =!= 100L)
          .unionAll(Seq((100L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")),
        col("doc_id") >= 100)
      .as[(Long, String, Long)].collect()
    assert(clean.forall(_._3 == 0L) && clean.length == 3)
  }

  test("dedupScoreboard rows are exact set arithmetic over the detectors and truth") {
    val sb = Dedup.dedupScoreboard(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(sb.keySet == Set("minhash_lsh", "simhash_h3"))
    // Independent driver-side replay: collect the three pair sets and
    // recompute every scoreboard cell from set arithmetic.
    val truth = Dedup.ngramJaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty) // (1,2) exact + (1,3)/(2,3) near dups
    val dets = Map(
      "minhash_lsh" -> Dedup.minhashCandidatePairs(docs)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet,
      "simhash_h3" -> Dedup.simhashNearPairs(docs, maxDist = 3)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    dets.foreach { case (name, det) =>
      val tp = (det & truth).size.toLong
      val (nd, nt, gotTp, prec, rec) = sb(name)
      assert(nd == det.size.toLong && nt == truth.size.toLong && gotTp == tp)
      assert(prec == (if (nd > 0) tp.toDouble / nd else 0.0))
      assert(rec == tp.toDouble / nt)
    }
    // the exact dup (1,2) is within reach of every detector on this fixture
    assert(dets.values.forall(_.contains((1L, 2L))))
  }

  test("fuzzyJoin equals the cross-side subset of within-corpus near-dup pairs") {
    val left = docs.where(col("doc_id") % 2 === 0)
    val right = docs.where(col("doc_id") % 2 === 1)
    val cross = Dedup.fuzzyJoin(left, right, threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect()
      .map { case (l, r) => (math.min(l, r), math.max(l, r)) }.toSet
    val whole = Dedup.nearDupPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .filter { case (a, b) => a % 2 != b % 2 }.toSet
    assert(cross == whole && cross.nonEmpty)
    // no self/within-side pairs by construction
    val sides = Dedup.fuzzyJoin(left, right, threshold = 0.0)
      .select("left_id", "right_id").as[(Long, Long)].collect()
    assert(sides.forall { case (l, r) => l % 2 == 0 && r % 2 == 1 })
  }

  test("dedupAgainstIndex == fuzzyJoin against a frozen signature index (restriction law)") {
    // The production crawl-ingest shape: the corpus's signature table is
    // computed ONCE (the frozen index), a new batch probes it — and the
    // result must equal recomputing both sides (fuzzyJoin), because a
    // signature depends only on the doc's own shingles.
    val newBatch = docs.where(col("doc_id") % 2 === 0)
    val corpus = docs.where(col("doc_id") % 2 === 1)
    val index = Dedup.minhashSignatures(corpus).localCheckpoint()
    val viaIndex = Dedup.dedupAgainstIndex(newBatch, index, corpus, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val recomputed = Dedup.fuzzyJoin(newBatch, corpus, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == recomputed && viaIndex.nonEmpty)
    // direction: new ids on the left, corpus ids on the right
    assert(viaIndex.forall { case (n, c, _) => n % 2 == 0 && c % 2 == 1 })
  }

  test("dedupAgainstIndex: parquet round-trip index + ingest-append law") {
    // The full production ingest loop: (1) the signature index survives a
    // parquet write/read round-trip (it IS a plain table — the "persist
    // once at ingest time" contract); (2) after accepting a batch, the
    // index extends by the NEW docs' signatures alone, and a second
    // batch dedups against the extended index exactly as if the corpus
    // had been recomputed whole.
    val corpus = docs.where(col("doc_id").isin(4L, 5L))
    val batch1 = docs.where(col("doc_id") === 1L)
    val batch2 = docs.where(col("doc_id").isin(2L, 3L))
    val dir = java.nio.file.Files.createTempDirectory("graft_sigidx").toString
    Dedup.minhashSignatures(corpus).write.mode("overwrite").parquet(dir)
    val index0 = spark.read.parquet(dir)
    // batch1 vs tiny corpus: no near-dups (4 is unrelated, 5 too short)
    assert(Dedup.dedupAgainstIndex(batch1, index0, corpus, threshold = 0.5)
      .count() == 0L)
    // append batch1's signatures — signature arithmetic only
    val index1 = index0.unionByName(Dedup.minhashSignatures(batch1))
    val corpus1 = corpus.unionByName(batch1)
    val viaAppended = Dedup.dedupAgainstIndex(batch2, index1, corpus1, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val recomputed = Dedup.fuzzyJoin(batch2, corpus1, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // docs 2 (exact dup of 1) and 3 (near dup of 1) must both hit doc 1
    assert(viaAppended == recomputed)
    assert(viaAppended.map { case (n, c, _) => (n, c) } == Set((2L, 1L), (3L, 1L)))
  }

  test("decontaminationScoreboard: bloom==exact, monotone-n recall, set arithmetic") {
    // bench doc 8 (8 % 8 == 0 under the pred below) shares a 4-gram run
    // with train doc 6 but no 8-gram; doc 7 is clean.
    val cdocs = Seq(
      (6L, "alpha beta gamma delta epsilon zeta unrelated tail words here"),
      (7L, "nothing in common with anything else in this tiny corpus"),
      (9L, "omega psi chi phi upsilon tau sigma rho completely distinct"),
      (8L, "alpha beta gamma delta epsilon zeta DIFFERENT continuation entirely")
    ).toDF("doc_id", "text")
    val sb = Dedup.decontaminationScoreboard(cdocs,
        benchPred = col("doc_id") % 8 === 0)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(sb.keySet ==
      Set("exact_n2", "exact_n4", "exact_n8", "bloom_n4", "fuzzy_j50"))
    // truth at n=4: only doc 6 (shares "alpha beta gamma delta" etc.)
    assert(sb("exact_n4") == ((1L, 1L, 1L, 1.0, 1.0)))
    // bloom row equals the exact row cell for cell (lossless-prefilter law)
    assert(sb("bloom_n4") == sb("exact_n4"))
    // a shared 8-gram would imply a shared 4-gram: recall(n8) <= recall(n4),
    // and this fixture's overlap run is 6 tokens, so n8 detects nothing
    assert(sb("exact_n8")._1 == 0L && sb("exact_n8")._5 == 0.0)
    // n=2 flags at least the truth doc (any shared 4-gram contains 2-grams)
    val (nd2, _, tp2, _, rec2) = sb("exact_n2")
    assert(tp2 == 1L && rec2 == 1.0 && nd2 >= 1L)
    // fuzzy: 6-of-n shingle overlap is below 0.5 Jaccard here -> no rows
    assert(sb("fuzzy_j50")._1 == 0L)
  }

  test("keepBestPerCluster: quality argmax survivor, min-id cluster key intact") {
    // docs 1/2/3 are one near-dup cluster; give 2 the best score so
    // the survivor differs from the min-id rep; 4 and 5 are singletons
    val score = when(col("doc_id") === 2L, lit(9.0))
      .when(col("doc_id") === 3L, lit(5.0))
      .otherwise(lit(1.0))
    val out = Dedup.keepBestPerCluster(docs, score)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // the cluster KEY stays the min id (stable identity), the SURVIVOR
    // is the quality argmax
    assert(out(1L) == ((1L, 2L)) && out(2L) == ((1L, 2L)) && out(3L) == ((1L, 2L)))
    assert(out(4L) == ((4L, 4L)) && out(5L) == ((5L, 5L)))
    // tie-break: equal scores fall back to the smaller id
    val tied = Dedup.keepBestPerCluster(docs, lit(1.0))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(tied(1L) == 1L && tied(3L) == 1L)
  }

  test("fuzzyJoin bucket cap: hot boilerplate bands drop, distinctive pairs survive") {
    // ADVICE round-9: the e65 fixture never trips Skew.capBuckets, so
    // the capped path had no gate. This fixture does: 8 identical
    // boilerplate clones per side put 8 rows in every boilerplate band
    // bucket; cap 4 drops those buckets WHOLE on both sides, so no
    // boilerplate pair can be proposed — while the unique near-dup
    // pair (bucket size 1 per side) is untouched.
    val boiler = "the quick brown fox jumps over the lazy dog again today"
    val leftB = (0 until 8).map(i => (100L + i, boiler))
    val rightB = (0 until 8).map(i => (200L + i, boiler))
    val uniqL = Seq((1L, "glacier melt accelerates under prolonged arctic heat waves"))
    val uniqR = Seq((2L, "glacier melt accelerates under prolonged arctic heat events"))
    val left = (leftB ++ uniqL).toDF("doc_id", "text")
    val right = (rightB ++ uniqR).toDF("doc_id", "text")
    val capped = Dedup.fuzzyJoin(left, right, threshold = 0.3, maxBucket = 4L)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)),
      s"capped join should keep ONLY the distinctive pair, got $capped")
    // control: uncapped, the boilerplate block reappears in full
    val uncapped = Dedup.fuzzyJoin(left, right, threshold = 0.3,
        maxBucket = Long.MaxValue)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val block = (for (l <- 100L until 108L; r <- 200L until 208L) yield (l, r)).toSet
    assert(uncapped == block + ((1L, 2L)))
  }

  /** A seeded random corpus: near-dup chains (each doc one word away
    * from the last), exact duplicates, unrelated singletons and short
    * docs, under sparse shuffled ids; seed 0 is the empty corpus. */
  private def randomCorpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    if (seed == 0) return Nil
    val vocab = (0 until 60).map(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val texts = (0 until 2 + rnd.nextInt(3)).flatMap { _ =>
      val base = words(10).toArray
      (0 until 1 + rnd.nextInt(4)).map { _ =>
        base(rnd.nextInt(base.length)) = vocab(rnd.nextInt(vocab.size))
        base.mkString(" ")
      }
    }
    val all = texts ++ texts.take(2) ++ Seq.fill(2)(words(10).mkString(" ")) :+ "ab cd"
    rnd.shuffle(all).zipWithIndex.map { case (t, i) => (7L * i + 3, t) }
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Driver union-find vs superstep loop under a forced cap of 0, each
    * side asserted to have taken its branch. */
  private def escapeLaw(docs: org.apache.spark.sql.DataFrame, hint: String): Unit = {
    val (small, d) = graft.plans.Supersteps.withCap(
      graft.plans.Supersteps.DriverRowCap)(canon(Dedup.dedupClusters(docs)))
    val (forced, f) = graft.plans.Supersteps.withCap(0L)(
      canon(Dedup.dedupClusters(docs)))
    assert(d.onDriver.get == 1 && d.distributed.get == 0, hint)
    assert(f.onDriver.get == 0 && f.distributed.get == 1, hint)
    assert(small == forced, hint)
  }

  test("dedupClusters driver union-find escape equals the superstep loop") {
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "alpha beta gamma delta theta eta"),
      (10L, "totally different words entirely here now"))
    (("chain fixture", chain) +: Seq(0, 11, 42, 97).map(s =>
      s"seed $s" -> randomCorpus(s))).foreach { case (hint, rows) =>
      escapeLaw(rows.toDF("doc_id", "text"), hint)
    }
  }

  test("dedupClusters escape accepts an int-typed doc_id") {
    val docs = randomCorpus(42).map { case (i, t) => (i.toInt, t) }
      .toDF("doc_id", "text")
    escapeLaw(docs, "int doc_id")
    assert(Dedup.dedupClusters(docs).schema("keep_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }
}
