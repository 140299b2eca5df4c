package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  private val nearDup = "the quick brown fox jumps over the lazy dog and runs far away tonight"
  private val other = "completely different content about spark query engines and shuffles everywhere"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, other), (4L, base) // 4 = exact dup of 1
  ).toDF("doc_id", "text")

  test("exactByContent collapses exact duplicates to lowest id") {
    val out = Dedup.exactByContent(docs, "text", "doc_id").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(1L) == 2L) // doc 1+4 same hash, kept id 1, 2 copies
    assert(out(2L) == 1L && out(3L) == 1L)
  }

  test("minhash LSH finds exact and near duplicates as candidates") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 32, shingleSize = 3)
    val cands = Dedup.minHashCandidatePairs(sigs, "doc_id", numHashes = 32, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L))) // exact dup always collides
    assert(cands.contains((1L, 2L)) || cands.contains((2L, 4L))) // near dup
    val est = Dedup.minHashJaccard(
      Dedup.minHashCandidatePairs(sigs, "doc_id"), sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((1L, 4L)) == 1.0) // identical signatures
  }

  test("minhash LSH hot-bucket cap bounds candidates under duplicate-cluster skew") {
    // a boilerplate cluster: 200 identical docs would emit C(200,2)=19900
    // pairs through every band bucket without the guard
    val cluster = (100L until 300L).map(i => (i, base + " boilerplate footer text"))
    val skewed = (docs.collect().map(r => (r.getLong(0), r.getString(1))) ++ cluster)
      .toSeq.toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(skewed, "doc_id", "text", numHashes = 16, shingleSize = 3)
    // cap below the cluster size: its buckets are dropped before the join
    val capped = Dedup.minHashCandidatePairs(sigs, "doc_id", numHashes = 16,
        bands = 4, maxBucketRows = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a >= 100L && b >= 100L },
      "cluster pairs must be pruned by the cap")
    assert(capped.contains((1L, 4L)), "small buckets unaffected by the cap")
    // cap above the cluster size: identical to the unguarded formulation
    val uncapped = Dedup.minHashCandidatePairs(sigs, "doc_id", numHashes = 16,
        bands = 4, maxBucketRows = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size >= 19900 && (100L until 300L)
      .combinations(2).take(5).forall(p => uncapped.contains((p(0), p(1)))))
  }

  test("minHashOversizedBuckets reports exactly what the cap drops — pruning is observable") {
    val cluster = (100L until 300L).map(i => (i, base + " boilerplate footer text"))
    val skewed = (docs.collect().map(r => (r.getLong(0), r.getString(1))) ++ cluster)
      .toSeq.toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(skewed, "doc_id", "text", numHashes = 16, shingleSize = 3)
    // same config as the capped candidate query: the side output names
    // the dropped buckets + member counts (the 200-doc cluster)
    val dropped = Dedup.minHashOversizedBuckets(sigs, "doc_id", numHashes = 16,
        bands = 4, maxBucketRows = 50)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dropped.nonEmpty && dropped.values.forall(_ == 200L),
      s"every oversized bucket is the 200-member cluster: $dropped")
    // with the cap not binding, the side output is empty — no false alarms
    assert(Dedup.minHashOversizedBuckets(sigs, "doc_id", numHashes = 16,
      bands = 4, maxBucketRows = 100000L).count() == 0L)
    // the side output covers the members the pair query lost: routing
    // each dropped bucket to exact dedup on the band hash recovers them
    val banded = Dedup.minHashCandidatePairs(sigs, "doc_id", numHashes = 16,
      bands = 4, maxBucketRows = 50)
    val pairIds = banded.select($"id_a").union(banded.select($"id_b"))
      .collect().map(_.getLong(0)).toSet
    assert((100L until 300L).forall(i => !pairIds.contains(i)))
  }

  test("wordJaccard with sparse candidates: prune keeps results exact at <1% coverage") {
    // 500 docs, candidates touch only 4 of them (0.8%) — the semi-join
    // prune must not change any value vs the dense formulation
    val many = (0L until 500L).map { i =>
      (i, s"word${i % 7} word${i % 11} word${i % 13} common filler text")
    }.toDF("doc_id", "text")
    val pairs = Seq((7L, 84L), (100L, 413L)).toDF("id_a", "id_b")
    val out = Dedup.wordJaccard(many, pairs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def wordSet(i: Long) = Set(s"word${i % 7}", s"word${i % 11}", s"word${i % 13}",
      "common", "filler", "text")
    def jac(a: Long, b: Long) = {
      val (sa, sb) = (wordSet(a), wordSet(b))
      (sa & sb).size.toDouble / (sa | sb).size
    }
    assert(out.keySet == Set((7L, 84L), (100L, 413L)))
    assert(out((7L, 84L)) == jac(7L, 84L) && out((100L, 413L)) == jac(100L, 413L))
  }

  test("connectedComponents labels every vertex with its component's min id") {
    val pairs = Seq((2L, 3L), (1L, 2L), (11L, 10L), (11L, 3L), (5L, 6L))
      .toDF("id_a", "id_b")
    // {1,2,3,10,11} chain through 3~11, plus the separate {5,6}
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      5L -> 5L, 6L -> 5L))
    // empty pairs → empty labeling, not a failure
    assert(Dedup.connectedComponents(pairs.limit(0)).count() == 0L)
  }

  test("connectedComponents converges on a long chain (pointer jumping, not O(diameter))") {
    // a 300-vertex path has diameter 299: neighbor-only propagation
    // needs 299 rounds and would exhaust maxIter=50 with wrong labels;
    // the label-of-label jump converges in O(log n) rounds
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(chain, maxIter = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 300 && out.values.forall(_ == 0L))
  }

  test("connectedComponents round count is O(log diameter) — pointer jump locked in") {
    // a diameter-D path graph must converge in ≤ ⌈log₂D⌉+2 rounds
    // (distance-to-min roughly doubles per round via label-of-label;
    // +2 covers the first round's offset and the fixpoint-detection
    // round). Neighbor-only propagation needs D rounds — dropping the
    // jump step fails this at every D here.
    for (d <- Seq(8L, 100L, 1000L)) {
      val path = (0L until d).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val (labels, rounds) = Dedup.connectedComponentsLoop(path, maxIter = 50, checkpointDir = None)
      val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.size == d + 1 && out.values.forall(_ == 0L), s"D=$d labels wrong")
      val bound = math.ceil(math.log(d.toDouble) / math.log(2.0)).toInt + 2
      assert(rounds <= bound, s"D=$d took $rounds rounds (bound $bound)")
    }
  }

  test("connectedComponents reliable-checkpoint mode reaches the same fixpoint") {
    // Some(dir) swaps localCheckpoint for reliable checkpoint() — the
    // cluster-fault-tolerant mode (local blocks die with an executor;
    // checkpoint files survive). Labels, and the round count, must be
    // identical to the local mode's.
    val dir = java.nio.file.Files.createTempDirectory("ccchk").toString
    val pairs = (Seq((2L, 3L), (1L, 2L), (11L, 10L), (11L, 3L), (5L, 6L)) ++
      (20L until 50L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val (localLabels, localRounds) =
      Dedup.connectedComponentsLoop(pairs, maxIter = 50, checkpointDir = None)
    val (relLabels, relRounds) =
      Dedup.connectedComponentsLoop(pairs, maxIter = 50, checkpointDir = Some(dir))
    val lm = localLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rm = relLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lm == rm)
    assert(localRounds == relRounds)
    // the reliable mode actually wrote PER-ROUND checkpoint files under
    // the dir: each round truncates twice (step + jump), so at least
    // one rdd-* checkpoint dir per round must have materialized — this
    // is the state an executor loss would resume from
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
      .count()
    assert(rddDirs >= relRounds,
      s"expected >= $relRounds checkpointed rounds under $dir, found $rddDirs")
    // and the checkpointed data is complete (non-empty part files)
    val partBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    assert(partBytes > 0L, "checkpoint part files are empty")
  }

  private def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("connectedComponents driver path equals the distributed loop on seeded random graphs") {
    // each seed: 30 small random graphs on disjoint id ranges (duplicate
    // edges, both orientations, self-loops, negative ids) plus a
    // diameter-D path, edges in random order; the driver path must label
    // every vertex exactly as the distributed loop does
    for ((seed, d) <- Seq((1, 8), (2, 100), (3, 1000))) {
      val rnd = new scala.util.Random(seed)
      val small = (0 until 30).flatMap { g =>
        val base = g * 100L - 1500L
        val n = 1 + rnd.nextInt(12)
        Seq.fill(rnd.nextInt(2 * n + 1)) {
          val (a, b) = (base + rnd.nextInt(n), base + rnd.nextInt(n))
          if (rnd.nextInt(5) == 0) (a, a) else (a, b)
        }.flatMap(e => if (rnd.nextInt(4) == 0) Seq(e, e.swap, e) else Seq(e))
      }
      val path = (10000L until 10000L + d).map(i => if (rnd.nextBoolean()) (i, i + 1) else (i + 1, i))
      val pairs = rnd.shuffle(small ++ path).toDF("id_a", "id_b")
      val (driver, rounds) = Dedup.connectedComponentsWithRounds(pairs)
      assert(rounds == 0, s"seed $seed: a ${small.size + d}-edge graph left the driver path")
      val want = labelSet(Dedup.connectedComponentsLoop(pairs, maxIter = 50, checkpointDir = None)._1)
      assert(labelSet(driver) == want, s"seed $seed: driver labels differ from the loop's")
      assert(want.collect { case (v, c) if v >= 10000L => c } == Set(10000L))
    }
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (none, rounds) = Dedup.connectedComponentsWithRounds(empty)
    assert(rounds == 0 && none.count() == 0L)
    assert(none.schema.map(_.dataType) == Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.LongType))
  }

  test("connectedComponents loop fails loudly when maxIter ends before the fixpoint") {
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException](
      Dedup.connectedComponentsLoop(path, maxIter = 1, checkpointDir = None))
    assert(err.getMessage.contains("maxIter=1") && err.getMessage.contains("1 rounds run"),
      err.getMessage)
  }

  test("connectedComponents labels its jobs and restores the caller's description") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => seen.add(d))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("cc-group", "caller's group")
    sc.setJobDescription("caller's job")
    try {
      // repartitioned: a bare local relation collects without a job
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b").repartition(2)
      Dedup.connectedComponentsWithRounds(pairs)
      Dedup.connectedComponentsLoop(pairs, maxIter = 50, checkpointDir = None)
      assert(sc.getLocalProperty("spark.job.description") == "caller's job")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "cc-group")
      val want = Set("Dedup.connectedComponents collect",
        "Dedup.connectedComponents round 0", "Dedup.connectedComponents round 1")
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
        assert(want.subsetOf(seen.toArray.map(_.toString).toSet), seen.toString)
      }
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("wordShingles produces distinct n-grams") {
    val out = docs.filter($"doc_id" === 1)
      .select(Dedup.wordShingles($"text", 3).as("sh"))
      .head().getSeq[String](0)
    assert(out.contains("the quick brown"))
    assert(out.forall(_.split(" ").length == 3))
  }

  test("wordJaccard computes exact set jaccard for given pairs") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.wordJaccard(docs, pairs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // base vs nearDup differ by one word: |A∩B|=12, |A∪B|=14 (12 distinct each)
    assert(out((1L, 2L)) > 0.8)
    assert(out((1L, 3L)) < 0.1)
  }

  test("simHash: near-dups at small hamming distance, different docs far") {
    val out = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(4L)) == 0) // identical text
    assert(ham(out(1L), out(2L)) < ham(out(1L), out(3L)))
  }

  test("contaminationScores counts shared n-grams vs the probe set only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // contains the probe run
      (2L, "totally unrelated words nothing shared here at all"),
      (3L, "prefix alpha beta gamma suffix") // partial overlap
    ).toDF("doc_id", "text")
    val probe = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Dedup.contaminationScores(corpus, probe, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probe 3-grams: {alpha beta gamma, beta gamma delta}
    assert(out(1L) == 2L)
    assert(out(3L) == 1L) // shares only "alpha beta gamma"
    assert(!out.contains(2L)) // zero overlap -> absent (inner join)
  }

  test("simHashNearDupPairs: block join finds exact/near pairs, excludes far pairs") {
    val sims = Dedup.simHash(docs, "doc_id", "text")
    val hams = sims.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearHam = java.lang.Long.bitCount(hams(1L) ^ hams(2L))
    val farHam = java.lang.Long.bitCount(hams(1L) ^ hams(3L))
    // bound tight enough to exclude the far pair, loose enough for the near one
    val bound = math.max(nearHam, farHam - 1).min(15)
    val pairs = Dedup.simHashNearDupPairs(sims, "doc_id", "simhash",
        maxHamming = bound, blocks = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 4L)) == 0L) // exact dup: hamming 0
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == nearHam)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((3L, 4L)))
    // each surviving pair appears exactly once despite multi-block matches
    assert(pairs.keySet.size == pairs.size)
  }

  test("one-pass WordShingles matches the HOF formulation on edge strings") {
    val edge = Seq(
      (1L, "a b c d"), (2L, ""), (3L, "one"), (4L, "x  y z"), // double space
      (5L, " lead"), (6L, "trail "), (7L, "a b a b a b") // repeats → distinct
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 3, 5)) {
      val neu = edge.select($"doc_id", Dedup.wordShingles($"text", n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val words = split($"text", " ")
      val hof = edge.select($"doc_id", array_distinct(
          filter(
            transform(words, (_, i) => concat_ws(" ", slice(words, i + 1, lit(n)))),
            s => size(split(s, " ")) === n)).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(neu == hof, s"n=$n")
    }
  }

  test("one-pass MinHashArray / SimHash60 are bit-identical to an independent reference") {
    // the codegen'd kernels go through md5Top60 byte-shifting +
    // multiplyHigh modular arithmetic; the reference here parses the
    // hex digest (exactly what the DuckDB oracle does) and uses BigInt
    // — a disjoint implementation path. Signature VALUES must not move
    // (they determine LSH bands, jaccard estimates, block joins).
    import graft.functions.TextHash
    def md5Top60Ref(s: String): Long = java.lang.Long.parseUnsignedLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15), 16)
    def shinglesRef(t: String, n: Int): Seq[String] = {
      val ws = t.split(" ", -1).toSeq
      (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).distinct
    }
    val mixed = docs.unionByName(Seq((9L, ""), (10L, "one two")).toDF("doc_id", "text"))
    val k = 8
    val coefs = TextHash.slotCoefs(k)
    val p = BigInt(TextHash.P61)
    def sigRef(t: String): IndexedSeq[Option[Long]] = {
      val sh = shinglesRef(t, 3)
      if (sh.isEmpty) IndexedSeq.fill(k)(Option.empty[Long])
      else coefs.toIndexedSeq.map { case (a, b) =>
        Some(sh.map(s => ((BigInt(a) * md5Top60Ref(s) + b) mod p).toLong).min)
      }
    }
    val texts = mixed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigsNew = Dedup.minHashSignatures(mixed, "doc_id", "text", numHashes = k, shingleSize = 3)
      .collect().map(r => r.getLong(0) ->
        (1 to k).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))).toMap
    assert(sigsNew == texts.view.mapValues(sigRef).toMap)

    def simRef(t: String): Long = {
      val hs = t.split(" ", -1).map(md5Top60Ref)
      (0 until 60).map { b =>
        if (hs.count(h => ((h >>> b) & 1L) == 1L) * 2 > hs.length) 1L << b else 0L
      }.sum
    }
    val simNew = Dedup.simHash(mixed, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(simNew == texts.view.mapValues(simRef).toMap)
  }

  test("PairBudget.sizeCap: largest size class whose cumulative pairs fit the budget") {
    import graft.ops.PairBudget
    // 10 buckets of 2 (10 pairs), 2 of 5 (20), 1 of 100 (4950), singletons ignored
    val sizes = ((1 to 10).map(_ => 2L) ++ Seq(5L, 5L, 100L) ++ (1 to 50).map(_ => 1L))
      .toDF("_bn")
    assert(PairBudget.sizeCap(sizes, "_bn", 9L) == 1L) // even size-2s blow it
    assert(PairBudget.sizeCap(sizes, "_bn", 10L) == 4L) // 2s fit, 5s don't
    assert(PairBudget.sizeCap(sizes, "_bn", 30L) == 99L) // 2s+5s fit, 100 doesn't
    assert(PairBudget.sizeCap(sizes, "_bn", 4980L) == Long.MaxValue) // all fit
  }

  test("minHashCandidatePairsBounded: under budget ≡ unbounded, clusters empty") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 32, shingleSize = 3)
    val b = Dedup.minHashCandidatePairsBounded(sigs, "doc_id", maxPairs = 1000000000L)
    val bounded = b.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minHashCandidatePairs(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // effective cap = min(default maxBucketRows, budget cap); the
    // budget itself does not bind on this corpus
    assert(bounded == full && b.clusters.count() == 0L && b.sizeCap == 100000L)
  }

  test("minHashCandidatePairsBounded: binding budget degrades cliques to representatives") {
    // the 200-doc boilerplate clique would contribute 4·C(200,2)=79600
    // candidates; budget 100 keeps the small buckets (smallest-first)
    // and routes the clique to linear (id, rep_id) output
    val cluster = (100L until 300L).map(i => (i, base + " boilerplate footer text"))
    val skewed = (docs.collect().map(r => (r.getLong(0), r.getString(1))) ++ cluster)
      .toSeq.toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(skewed, "doc_id", "text", numHashes = 16, shingleSize = 3)
    val b = Dedup.minHashCandidatePairsBounded(sigs, "doc_id", numHashes = 16,
      bands = 4, maxPairs = 100L)
    val pairs = b.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b.sizeCap < 200L, s"clique buckets must exceed the cap (${b.sizeCap})")
    assert(!pairs.exists { case (a, c) => a >= 100L && c >= 100L },
      "clique pairs must not be enumerated under the budget")
    assert(pairs.contains((1L, 4L)), "small buckets still pair-enumerate")
    val reps = b.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L until 300L).forall(i => reps.get(i).contains(100L)),
      s"every clique member maps to the min-id representative: ${reps.view.filterKeys(_ >= 100L).toMap.take(5)}")
    // linear output: one row per member, not C(200,2) pairs
    assert(b.clusters.count() == reps.size)
  }

  test("simHashNearDupPairsBounded: under budget ≡ unbounded; binding budget → representatives") {
    val cluster = (100L until 160L).map(i => (i, base + " boilerplate footer text"))
    val skewed = (docs.collect().map(r => (r.getLong(0), r.getString(1))) ++ cluster)
      .toSeq.toDF("doc_id", "text")
    val sims = Dedup.simHash(skewed, "doc_id", "text")
    val full = Dedup.simHashNearDupPairs(sims, "doc_id", "simhash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val under = Dedup.simHashNearDupPairsBounded(sims, "doc_id", "simhash",
      maxBucketRows = Long.MaxValue, maxPairs = 1000000000L)
    assert(under.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == full)
    assert(under.clusters.count() == 0L)
    // identical docs → identical simhashes → 60-member blocks; a tiny
    // budget degrades them but keeps blocks within the cap enumerated
    val bound = Dedup.simHashNearDupPairsBounded(sims, "doc_id", "simhash",
      maxBucketRows = Long.MaxValue, maxPairs = 20L)
    val bPairs = bound.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bound.sizeCap < 60L)
    assert(!bPairs.exists { case (a, c) => a >= 100L && c >= 100L })
    // docs 1/2/4 share their top-bits block with the clique (base is a
    // prefix of the clique text, and the shared tokens dominate the
    // sign-sums), so that degraded bucket's min id — 1 — is the
    // representative for every member reached through it
    val reps = bound.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L until 160L).forall(i => reps.get(i).contains(1L)), s"reps: ${reps.take(8)}")
    assert(reps.get(1L).contains(1L) && reps.get(2L).contains(1L) && reps.get(4L).contains(1L))
    assert(!reps.contains(3L), "doc 3 shares no degraded bucket")
  }

  test("winnowingGrams selects exactly the grams whose hash is a window minimum") {
    val k = 5; val w = 4
    val texts = Seq("abcdefghijklmnopqrstuvwxyz", "aaaaaaaa", "abc", "",
      "the quick brown fox jumps over the lazy dog")
    for (t <- texts) {
      val row = Seq(Tuple1(t)).toDF("text").select(
        graft.functions.TextHashExpressions.winnowing(col("text"), k, w).as("fps"),
        graft.functions.TextHashExpressions.winnowingGrams(col("text"), k, w).as("grams"))
        .head()
      val fps = row.getSeq[Long](0).toSet
      val grams = row.getSeq[String](1)
      assert(grams.distinct == grams, s"grams not distinct for '$t'")
      // independent reference: every k-gram of t whose md5-top60 is in
      // the fingerprint set, and no others
      val n = math.max(t.length - (k - 1), 1)
      val allGrams = (0 until n).map(i => t.substring(i, math.min(i + k, t.length)))
      val expected = allGrams.filter { g =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8"))
        val top = (0 until 8).foldLeft(0L)((acc, j) => (acc << 8) | (d(j) & 0xffL)) >>> 4
        fps.contains(top)
      }.distinct
      assert(grams.toSet == expected.toSet, s"mismatch for '$t'")
    }
  }

  test("rolling-mode winnowingGrams: every w-window contributes a selected gram (guarantee is hash-agnostic)") {
    // implementation-independent restatement of the winnowing
    // guarantee, checked from the OUTPUT alone: in every window of w
    // consecutive k-grams, at least one gram is selected. That is the
    // whole recall proof — a shared span ≥ k+w−1 contains a full
    // window in both docs with identical gram content, and identical
    // windows select identical-content minima under ANY deterministic
    // content hash.
    val k = 5; val w = 4
    val rnd = new scala.util.Random(1234)
    // 2- and 3-byte BMP cps exercise the decoder (no lone surrogates)
    val alphabet = "abcdefgh αβγ中文"
    def randText(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val texts = Seq("abcdefghijklmnopqrstuvwxyz", "aaaaaaaa", "abc", "",
      "the quick brown fox jumps over the lazy dog",
      "emoji 🚀 grams 🎉 hit the 4-byte decode path 🚀🚀 twice") ++
      (1 to 20).map(_ => randText(60))
    for (t <- texts; rolling <- Seq(true, false)) {
      val sel = Seq(Tuple1(t)).toDF("text").select(
        graft.functions.TextHashExpressions.winnowingGrams(col("text"), k, w, rolling)
          .as("grams")).head().getSeq[String](0)
      assert(sel.distinct == sel, s"grams not distinct for '$t' rolling=$rolling")
      val cps = t.codePoints().toArray
      def gram(i: Int) = new String(cps, i, math.min(k, cps.length - i))
      val n = math.max(cps.length - (k - 1), 1)
      val selSet = sel.toSet
      (0 to math.max(n - w, 0)).foreach { i =>
        val window = (i until math.min(i + w, n)).map(gram)
        assert(window.exists(selSet.contains),
          s"window $i of '$t' (rolling=$rolling) has no selected gram: $window vs $selSet")
      }
    }
  }

  test("rolling vs md5 span detection: planted spans caught by BOTH; pair sets agree (equivalence floor)") {
    val k = 12; val w = 4
    val rnd = new scala.util.Random(77)
    val words = Vector("alpha", "beta", "gamma", "delta", "query", "spark",
      "shuffle", "column", "vector", "tensor", "corpus", "window")
    def randDoc(len: Int) = (1 to len).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    // plant spans of EXACTLY k+w-1 = 15 chars (the guarantee boundary)
    // and comfortably longer ones between disjoint doc pairs
    val boundarySpan = "XBOUNDARYSPANZQ" // 15 chars
    val longSpan = "this much longer verbatim boilerplate passage is shared in full"
    val planted = Seq(
      (1L, 2L, boundarySpan), (3L, 4L, boundarySpan),
      (5L, 6L, longSpan), (7L, 8L, longSpan))
    val docs = planted.flatMap { case (ia, ib, span) =>
      Seq((ia, s"${randDoc(8)} $span ${randDoc(8)}"),
        (ib, s"${randDoc(8)} $span ${randDoc(8)}"))
    } ++ (20L until 40L).map(i => (i, randDoc(20)))
    val corpus = docs.toDF("doc_id", "text")
    def pairSet(rolling: Boolean) = Dedup.sharedSpanPairs(
      corpus, "doc_id", "text", k, w, 64L, 1L, rollingHash = rolling)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Pairs = pairSet(false)
    val rollPairs = pairSet(true)
    // structural guarantee, both modes: every planted pair detected
    planted.foreach { case (ia, ib, span) =>
      assert(md5Pairs.contains((ia, ib)), s"md5 missed planted ($ia,$ib) '$span'")
      assert(rollPairs.contains((ia, ib)), s"rolling missed planted ($ia,$ib) '$span'")
    }
    // equivalence floor: the modes may differ on sub-guarantee
    // accidental overlaps, but must agree on ≥90% of md5's detections
    val recall = if (md5Pairs.isEmpty) 1.0
      else md5Pairs.intersect(rollPairs).size.toDouble / md5Pairs.size
    assert(recall >= 0.9, s"rolling recall of md5 pairs $recall: md5=$md5Pairs roll=$rollPairs")
  }

  test("sharedSpanPairs: winnowing guarantee detects long shared spans; df cap kills stop-grams") {
    val k = 12; val w = 4
    val span = "this exact boilerplate sentence is shared verbatim between two documents"
    val a = "unique preamble alpha ".concat(span).concat(" unique tail one")
    val b = "different opening beta ".concat(span).concat(" other ending two")
    val c = "totally unrelated text about distributed query processing at scale"
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.sharedSpanPairs(corpus, "doc_id", "text", k, w,
      maxDocFreq = 64L, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // span length >> k+w-1 → structural guarantee: (1,2) must appear
    assert(pairs.contains((1L, 2L)), s"guaranteed pair missing: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // df cap: the same span in MANY docs makes its grams stop-grams.
    // The cap is on SELECTED-gram document frequency (what the SQL
    // oracle replays), so boundary-context selection differences can
    // keep a few shared grams under the cap — the contract is subset
    // + suppression of the saturated clique, not emptiness.
    val flood = (10L until 20L).map(i => (i, s"doc number $i preamble ".concat(span)))
    val flooded = (Seq((1L, a), (2L, b), (3L, c)) ++ flood).toDF("doc_id", "text")
    def pairsAt(cap: Long) = Dedup.sharedSpanPairs(
      flooded, "doc_id", "text", k, w, maxDocFreq = cap, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsAt(1000L)
    val capped = pairsAt(3L)
    val floodFlood = (p: (Long, Long)) => p._1 >= 10L && p._2 >= 10L
    // all C(10,2) flood pairs share " preamble "+span ≥ k+w-1 chars →
    // structurally guaranteed without the cap
    assert(uncapped.count(floodFlood) == 45, s"uncapped: ${uncapped.count(floodFlood)}")
    assert(capped.subsetOf(uncapped))
    // the guaranteed common gram sits in ≥10 docs > cap=3 → dropped;
    // the 45-pair clique collapses
    assert(capped.count(floodFlood) < 45, s"capped clique intact: ${capped.count(floodFlood)}")
    // minShared raises the evidence bar: the long shared span yields
    // several selected grams, so (1,2) survives minShared=2
    val strict = Dedup.sharedSpanPairs(corpus, "doc_id", "text", k, w,
      maxDocFreq = 64L, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 2L)), s"strict: $strict")
  }

  test("sharedSpanPairsBounded: under budget ≡ unbounded; binding budget → representatives; stop-grams stay dropped") {
    val k = 12; val w = 4
    val span = "this exact boilerplate sentence is shared verbatim between two documents"
    val corpus = ((1L to 30L).map(i => (i, s"doc $i opening words ".concat(span))) :+
      (99L, "completely unrelated content about query planning and shuffles"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = rows(Dedup.sharedSpanPairs(corpus, "doc_id", "text", k, w,
      maxDocFreq = 64L, minShared = 1L))
    assert(full.size >= 30 * 29 / 2, s"clique incomplete: ${full.size}") // guarantee
    val under = Dedup.sharedSpanPairsBounded(corpus, "doc_id", "text", k, w,
      maxDocFreq = 64L, minShared = 1L, maxPairs = 1000000000L)
    assert(rows(under.pairs) == full)
    assert(under.clusters.count() == 0L)
    assert(under.sizeCap == 64L)
    // a binding budget collapses the 30-doc gram groups to reps —
    // every clique member maps to the min id reachable through a
    // shared gram group (1 for the grams all 30 share)
    val bound = Dedup.sharedSpanPairsBounded(corpus, "doc_id", "text", k, w,
      maxDocFreq = 64L, minShared = 1L, maxPairs = 50L)
    assert(bound.sizeCap < 30L, s"cap: ${bound.sizeCap}")
    val reps = bound.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 30L).forall(i => reps.get(i).contains(1L)), s"reps: ${reps.take(5)}")
    assert(!reps.contains(99L))
    assert(rows(bound.pairs).subsetOf(full))
    // stop-grams are dropped in BOTH routes: with maxDocFreq below the
    // clique size the shared-span grams are boilerplate, so neither
    // pairs nor clusters mention them
    val stopped = Dedup.sharedSpanPairsBounded(corpus, "doc_id", "text", k, w,
      maxDocFreq = 10L, minShared = 1L, maxPairs = 1000000000L)
    val stopReps = stopped.clusters.collect().map(r => r.getLong(0)).toSet
    assert(!stopReps.exists(id => id >= 1L && id <= 30L) || stopReps.isEmpty,
      s"stop-gram members leaked into clusters: $stopReps")
    // both outputs are materialized above: releasing the internal
    // working sets must be safe
    under.cleanup(); bound.cleanup(); stopped.cleanup()
  }
}
