package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", 44L),
    (2L, "the quick brown fox jumps over the lazy dog", "en", 44L), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "en", 44L), // near dup of 1
    (4L, "completely different content about spark engines", "en", 49L),
    (5L, "unrelated short text", "en", 20L)
  ).toDF("doc_id", "text", "lang", "n_chars")

  test("exact dedup groups identical texts under the min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("rep_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("fingerprint dedup matches exact dedup on whitespace-normal text") {
    val a = Dedup.exact(docs, "doc_id", "text")
      .orderBy("rep_id").as[(Long, Long)].collect().toSeq
    val b = Dedup.exactByFingerprint(docs, "doc_id", "text")
      .orderBy("rep_id").as[(Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("contentless docs (null/empty/whitespace text) never pair (r10 review regression)") {
    // unguarded, all contentless docs shared one constant shingle hash
    // (xxhash64-of-null = seed; whitespace normalizes to " ") and
    // reported each other as jaccard-1.0 duplicates, m²/2 pairs
    val mixed = Seq[(Long, String)](
      (1L, null), (2L, null), (3L, ""), (4L, "   \t  "),
      (5L, "a real document body with plenty of text in it"),
      (6L, "a real document body with plenty of text in it")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(mixed, "doc_id", "text",
        shingleN = 5, k = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((5L, 6L)), pairs.toString)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 5, k = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact duplicate must collide in every band")
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(4L, 5L) })
    // jaccard of the exact pair is 1.0 → 10000
    val j = Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 32, 16, 0.5)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard_e4").as[Long].head()
    assert(j == 10000L)
  }

  test("incremental minhash equals the full-corpus result restricted to new-touching pairs") {
    // corpus = even ids (indexed once), new batch = odd ids; the
    // incremental pipeline must reproduce the full run's pairs that
    // touch at least one new doc — nothing more, nothing less — with
    // identical exact-verified jaccard values
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val fresh = docs.filter($"doc_id" % 2 === 1)
    val index = Dedup.buildMinhashIndex(corpus, "doc_id", "text", shingleN = 5, k = 32)
    val inc = Dedup.minhashLshIncremental(fresh, corpus, index, "doc_id", "text",
        shingleN = 5, k = 32, bands = 16, threshold = 0.5)
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 5, k = 32, bands = 16, threshold = 0.5)
      .as[(Long, Long, Long)].collect().toSet
      .filter(t => t._1 % 2 == 1 || t._2 % 2 == 1)
    assert(inc == full, s"incremental=$inc full-restricted=$full")
    // the near-dup pair (1,3) is new-vs-new, (1,2) is new-vs-corpus:
    // both shapes must be found
    assert(inc.exists { case (a, b, _) => (a, b) == (1L, 2L) })
    assert(inc.exists { case (a, b, _) => (a, b) == (1L, 3L) })
  }

  test("simhash signatures are equal for identical docs and pairs pass the hamming gate") {
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("portable simhash matches engine-neutral reference arithmetic") {
    // recompute doc 1's signature in plain JVM arithmetic from the md5
    // head — the same computation the DuckDB oracle runs — and compare
    // chunk-blocked pairs behave like the xxhash flavor
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text", portable = true)
      .as[(Long, Long)].collect().toMap
    def tokHash(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16) % 1000000007L
    }
    def refSig(text: String): Long = {
      // multipliers re-derived independently: g^(j+1) mod p
      val p = 1000000007L
      val g = 2654435761L % p
      val mults = Iterator.iterate(g)(m => m * g % p).take(64).toIndexedSeq
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (0 until 64).map { j =>
        val c = toks.map { t =>
          if (tokHash(t) * mults(j) % p % 2 == 1) 1 else -1
        }.sum
        if (c > 0) 1L << j else 0L
      }.reduce(_ | _)
    }
    assert(sigs(1L) == refSig("the quick brown fox jumps over the lazy dog"))
    assert(sigs(1L) == sigs(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, portable = true)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("simhashPairs is COMPLETE at radius <= 3 and guards larger radii") {
    // a corpus engineered for signature diversity: shared phrases push
    // some pairs inside small hamming radii, distinct tails push others
    // out — completeness is checked against brute-force all-pairs
    val corpus = (0L until 40L).map { i =>
      val shared = s"alpha beta gamma delta epsilon shared${i % 5}"
      val tail = (0 until (i % 7).toInt).map(j => s"tok${i}_$j").mkString(" ")
      (i, s"$shared $tail")
    }.toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def brute(h: Int) = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= h
    } yield (a, b)).toSet
    for (h <- 0 to 3) {
      val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = h)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == brute(h), s"h=$h: got ${got.size}, brute ${brute(h).size}")
    }
    // the 4-chunk pigeonhole does NOT extend past 3: larger radii are
    // an explicit opt-in
    assertThrows[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 4)
    }
    // ... and the opted-in screen is a subset of the true pair set
    val partial = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 6,
        partialScreen = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(partial.subsetOf(brute(6)))
  }

  test("simhashPairsComplete is exact beyond the 4-chunk bound") {
    val corpus = (0L until 40L).map { i =>
      val shared = s"alpha beta gamma delta epsilon shared${i % 5}"
      val tail = (0 until (i % 7).toInt).map(j => s"tok${i}_$j").mkString(" ")
      (i, s"$shared $tail")
    }.toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def brute(h: Int) = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= h
    } yield (a, b)).toSet
    for (h <- Seq(4, 6, 9)) {
      val got = Dedup.simhashPairsComplete(corpus, "doc_id", "text", maxHamming = h)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == brute(h), s"h=$h: got ${got.size}, brute ${brute(h).size}")
      assert(got.nonEmpty, s"h=$h fixture produced no pairs — weak test")
    }
    assertThrows[IllegalArgumentException] {
      Dedup.simhashPairsComplete(corpus, "doc_id", "text", maxHamming = 16)
    }
  }

  test("lshParams sizes (k, bands) for the corpus: bounded background candidates, recall floor held") {
    def check(n: Long, t: Double): Unit = {
      val (k, b) = Dedup.lshParams(n, t)
      val r = k / b
      assert(k % b == 0)
      // background-candidate budget: n * b * Jbg^r <= 1 per doc
      assert(n.toDouble * b * math.pow(0.1, r) <= 1.0 + 1e-9,
        s"n=$n t=$t -> (k=$k, b=$b): background budget violated")
      // recall floor at the true-dup threshold: 1-(1-t^r)^b >= 0.95
      val recall = 1.0 - math.pow(1.0 - math.pow(t, r), b)
      assert(recall >= 0.95, s"n=$n t=$t -> (k=$k, b=$b): recall $recall")
    }
    for (n <- Seq(1000L, 1000000L, 10000000000L); t <- Seq(0.5, 0.8, 0.9))
      check(n, t)
    // params grow with the corpus — the r10 probe's quadratic candidate
    // term is exactly what fixed (k=32, bands=8) cannot absorb at scale
    val (k1, _) = Dedup.lshParams(50000L, 0.8)
    val (k2, _) = Dedup.lshParams(10000000000L, 0.8)
    assert(k2 > k1, s"k must grow with corpus size: $k1 vs $k2")
    // documented fixpoint example
    assert(Dedup.lshParams(10000000000L, 0.8) == (516, 43))
  }

  test("splitLeakagePairs: cross-split shared windows found, same-split pairs excluded") {
    // 40 docs: ids 0-19 share leak block A, ids 20-39 share leak block
    // B, everyone carries a unique tail. Splits derive from the ids, so
    // the expected pair set is computable from the same pure function.
    val leakA = "A" * 45
    val leakB = "B" * 45
    val docs40 = (0L until 40L).map { i =>
      (i, (if (i < 20) leakA else leakB) + s" unique tail for doc $i " + ("x" * (i % 7).toInt))
    }.toDF("doc_id", "text")
    val weights = Seq("train" -> 0.8, "test" -> 0.2)
    val out = Dedup.splitLeakagePairs(docs40, "doc_id", "text", weights,
        "train", "test", k = 40, stride = 4)
      .select("train_id", "eval_id").as[(Long, Long)].collect().toSet
    // reference: learn each id's split from the engine's own pure
    // function, then pair train x test within each leak block
    val splits = Sampling.assignSplit(docs40, "doc_id", weights, portable = true)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = (for {
      a <- 0L until 40L if splits(a) == "train"
      b <- 0L until 40L if splits(b) == "test"
      if (a < 20) == (b < 20) // same leak block
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture must produce at least one cross-split pair")
    assert(out == expected, s"got ${out.size}, expected ${expected.size}")
    // no same-split pairs, ever
    out.foreach { case (tr, ev) =>
      assert(splits(tr) == "train" && splits(ev) == "test")
    }
    // a doc below the window length can never leak
    val tiny = Seq((100L, "short"), (101L, "short")).toDF("doc_id", "text")
    assert(Dedup.splitLeakagePairs(tiny, "doc_id", "text", weights,
      "train", "test", 40, 4).count() == 0L)
  }

  test("connected components labels chains and keeps islands separate") {
    // chain 1-2-3 (via transitive pairs), island 4-5, singleton 9 absent
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("connected components: a null id receives labels but never gives one") {
    // 3's only pair is with the null id, which never passes a label on;
    // the null id takes the minimum of its neighbours' labels
    val pairs = Seq(Option(1L) -> Option(2L), Option(2L) -> Option.empty[Long],
      Option.empty[Long] -> Option(3L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got == Set(Some(1L) -> Some(1L), Some(2L) -> Some(1L),
      Some(3L) -> Some(3L), None -> Some(1L)), s"got $got")
    CacheScope.release(spark)
  }

  test("connected components keep the ids' integral type") {
    val pairs = Seq((1, 2), (2, 3), (7, 8)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
    assert(labels.schema.simpleString == "struct<id:int,label:int>")
    assert(labels.as[(Int, Int)].collect().toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
    CacheScope.release(spark)
  }

  test("connected components reject non-integral ids up front, naming the column") {
    val pairs = Seq((1L, "2")).toDF("id_a", "id_b")
    val err = intercept[IllegalArgumentException](Dedup.connectedComponents(pairs))
    assert(err.getMessage == "requirement failed: connected components need " +
      "integral ids: column id_b is STRING")
  }

  test("dedupByPairs keeps one representative per cluster plus untouched docs") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L), s"got $kept")
  }

  test("dedupByPairsScored keeps the best-scoring member, ties by id") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val scored = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.5))
      .toDF("doc_id", "score")
    val kept = Dedup.dedupByPairsScored(scored, "doc_id", "score", pairs)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3}: best score 0.9 shared by 2 and 3 → lower id 2 wins;
    // 4 and 5 are unclustered and pass through
    assert(kept == Set(2L, 4L, 5L), s"got $kept")
  }

  test("connectedComponents and report handle an EMPTY pair list (all-unique corpus)") {
    // sum over an empty labels frame is NULL — must yield an empty
    // cluster map, not an NPE (reachable from q52/q93/q101 on any
    // corpus with no near-dup pair at the threshold)
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0L)
    val rep = Dedup.report(empty)
    assert(rep.clusters.count() == 0L)
    assert(rep.sizeHistogram.count() == 0L)
    val kept = rep.keepBest(docs, "doc_id", "n_chars")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 5L), "all docs pass through untouched")
  }

  test("report artifact: clusters/histogram/keep-policy views are mutually consistent") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val rep = Dedup.report(pairs)
    // clusters view ≡ a direct CC run
    val direct = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(rep.clusters.as[(Long, Long)].collect().toMap == direct)
    // histogram view ≡ the clusters view regrouped (one compute, two views)
    val hist = rep.sizeHistogram.as[(Long, Long)].collect().toMap
    assert(hist == Map(3L -> 1L, 2L -> 1L), s"got $hist")
    // keep-policy views match the pair-based forms
    val scored = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.5))
      .toDF("doc_id", "score")
    val keep = rep.keepBest(scored, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    // {1,2,3}: 2 and 3 tie at 0.9 → lower id 2; {4,5}: 5 wins at 0.5
    assert(keep == Set(2L, 5L))
    val dropped = rep.dropDuplicates(docs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(dropped == Set(1L, 4L))
    // the artifact survives a full cache sweep: views are parquet-backed
    graft.Bench.releaseAll(spark)
    assert(rep.clusters.count() == 5L)
  }

  test("report artifact carries CC convergence telemetry") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val rep = Dedup.report(pairs)
    // the columns ride on the artifact itself — an operator reading the
    // parquet table sees them without the DedupReport wrapper
    assert(rep.labels.columns.toSet ==
      Set("id", "label", "cc_rounds", "cc_converged"))
    val (rounds, converged) = rep.convergence
    assert(converged, "shallow clusters must converge")
    assert(rounds >= 1 && rounds <= 20, s"rounds=$rounds")
    // a deep chain with a starved iteration budget reports PARTIAL
    // labels honestly: converged=false on the artifact
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val starved = Dedup.report(chain, maxIter = 2)
    val (r2, c2) = starved.convergence
    assert(!c2, "12-chain cannot converge in 2 rounds")
    assert(r2 == 2)
    // empty pair list: trivially converged, zero rounds
    assert(Dedup.report(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .convergence == (0, true))
    // the derived views are unaffected by the telemetry columns
    assert(rep.clusters.columns.toSet == Set("id", "label"))
  }

  test("end-to-end: minhash pairs → cluster → dedup collapses the dup group") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 32, 16, 0.5)
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // docs 1,2,3 are mutual near-dups (pairwise jaccard ≥ 0.5) → one survivor
    assert(kept.contains(1L) && !kept.contains(2L))
    assert(kept.contains(4L) && kept.contains(5L))
  }

  test("auto Jaccard dispatch yields identical pairs in both regimes") {
    val blocks = Seq(col("lang"), floor(col("n_chars") / 100).cast("long"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val base = collect(Dedup.ngramJaccardPairs(docs, "doc_id", "text", blocks, 5000L))
    // tiny corpus → amplification ~1 → counting path
    assert(collect(Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", blocks, 5000L)) == base)
    // force the prefix path: identical output, different physical plan
    spark.conf.set("graft.dedup.jaccard.maxAmp", "0")
    try assert(collect(Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", blocks, 5000L)) == base)
    finally spark.conf.unset("graft.dedup.jaccard.maxAmp")
  }

  test("ngram jaccard within blocks reports the near-dup pair above threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 100).cast("long")), 5000L)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(p => (p._1, p._2))
    // distinct tokens of 1 vs 3 differ only in dog/cat: |∩|=7, |∪|=9
    // → floor(7/9 · 1e4) = 7777; duplicate pair (1,2) and (2,3) also qualify
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 10000L)
    assert(pairs.find(p => (p._1, p._2) == (1L, 3L)).get._3 == 7777L)
  }

  test("sharedWindowPairs finds docs sharing an aligned window, verifies away collisions") {
    // docs 1/2/3 share the 40-char prefix window at offset 0 ("…lazy "
    // is common; dog/cat differ only past offset 40); 4 and 5 share
    // nothing; 5 is shorter than k and must emit no windows at all
    val pairs = Dedup.sharedWindowPairs(docs, "doc_id", "text", k = 40, stride = 4)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // doc len 43 → offsets {0} only at stride 4 → exactly one shared window
    assert(pairs.forall(_._3 == 1L))
  }

  test("containmentPairs detects a short doc quoted inside a long one") {
    val quoteDocs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta gamma delta plus lots of framing text around the quote body here", "en"),
      (3L, "totally disjoint vocabulary set", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.containmentPairs(quoteDocs, "doc_id", "text",
        Seq(col("lang")), 9000L, minSize = 4)
      .as[(Long, Long, Long)].collect().toSeq
    // 1 ⊂ 2: containment = 4/4 = 1.0; no other qualifying pair
    assert(out == Seq((1L, 2L, 10000L)), s"got $out")
    // symmetric Jaccard of the same pair is 4/13 ≈ 0.31 — the point of
    // the operator: q30's family cannot see this pair at any useful
    // threshold
    val j = Dedup.ngramJaccardPairs(quoteDocs, "doc_id", "text",
        Seq(col("lang")), 3000L)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard_e4").as[Long].collect().toSeq
    assert(j.headOption.forall(_ < 5000L))
  }

  test("sharedWindowPairs equals the naive window cross-join on real data") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Dedup.sharedWindowPairs(real, "doc_id", "text", k = 40, stride = 4)
      .as[(Long, Long, Long)].collect().toSet
    // naive reference: window strings joined directly (no fingerprints)
    val wins = real.filter(length($"text") >= 40)
      .select($"doc_id",
        explode(sequence(lit(0), length($"text") - 40, lit(4))).as("off"),
        $"text")
      .select($"doc_id", substring($"text", $"off" + 1, lit(40)).as("win"))
      .distinct()
    val naive = wins.alias("a").join(wins.alias("b"),
        $"a.win" === $"b.win" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("shared_ct"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == naive && got.nonEmpty, s"got ${got.size} naive ${naive.size}")
  }

  test("containmentPairs equals the naive array-intersect join on real data") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Dedup.containmentPairs(real, "doc_id", "text",
        Seq(col("lang")), 9000L, minSize = 30)
      .as[(Long, Long, Long)].collect().toSet
    val t = real.select($"doc_id", $"lang",
        array_distinct(graft.functions.TextFunctions.tokenize(lower($"text"))).as("toks"))
      .filter(size($"toks") >= 30)
    val naive = t.alias("a").join(t.alias("b"),
        $"a.lang" === $"b.lang" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        floor(size(array_intersect($"a.toks", $"b.toks")).cast("double") * 10000.0 /
          least(size($"a.toks"), size($"b.toks")).cast("double"))
          .cast("long").as("containment_e4"))
      .filter($"containment_e4" >= 9000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == naive && got.nonEmpty, s"got ${got.size} naive ${naive.size}")
  }

  test("df-capped containment is a subset of exact and keeps rare-token subsets") {
    // subset property on real data: capped scores are lower bounds, so
    // no pair can appear under the cap that exact doesn't report
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.containmentPairs(real, "doc_id", "text",
        Seq(col("lang")), 9000L, minSize = 30)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.containmentPairs(real, "doc_id", "text",
        Seq(col("lang")), 9000L, minSize = 30, maxDfFrac = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(exact), s"capped must lower-bound exact: ${capped -- exact}")
    // a subset pair built ONLY from rare tokens survives any cap that
    // keeps tokens of df ≤ 2/5: the stopword "filler" (in all 5 docs)
    // is dropped from the join, the rare quote tokens are not
    // every doc passes minSize (so the full block of 5 sets the df
    // denominator): "filler" df 5/5 dropped, "unrelated body" df 3/5
    // dropped, the four quote tokens df 2/5 kept
    val docs = Seq(
      (1L, "filler aquila borealis cygnus draco", "en"),
      (2L, "filler aquila borealis cygnus draco plus more framing text here", "en"),
      (3L, "filler one unrelated body extra3", "en"),
      (4L, "filler two unrelated body extra4", "en"),
      (5L, "filler three unrelated body extra5", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
        Seq(col("lang")), 8000L, minSize = 5, maxDfFrac = 0.5)
      .as[(Long, Long, Long)].collect().toSeq
    // |∩ after cap| = 4 rare tokens, min(sz) = 5 → 8000 exactly
    assert(out == Seq((1L, 2L, 8000L)), s"got $out")
  }

  test("containment maxDfAbs: absolute cap drops what a weakened fractional cap readmits (r12 skew probe)") {
    // the q123 regime in miniature: a stopword shared by 3 of 12 docs
    // (df-fraction 0.25 — UNDER a 0.5 fractional cap, so the fractional
    // dial no longer drops it as the corpus grows) still drives Σf²;
    // the absolute cap maxDfAbs=2 drops any token in >2 docs regardless
    // of corpus size. Same lower-bound/subset contract as maxDfFrac.
    val docs = (Seq(
      (1L, "stopw aquila borealis cygnus draco", "en"),
      (2L, "stopw aquila borealis cygnus draco plus more framing text here", "en"),
      (3L, "stopw other words entirely here now", "en")) ++
      (4L to 12L).map(i => (i, s"unique$i tokens$i only$i forthis$i doc$i", "en")))
      .toDF("doc_id", "text", "lang")
    val exact = Dedup.containmentPairs(docs, "doc_id", "text",
        Seq(col("lang")), 8000L, minSize = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val absCapped = Dedup.containmentPairs(docs, "doc_id", "text",
        Seq(col("lang")), 8000L, minSize = 5, maxDfAbs = 2L)
      .as[(Long, Long, Long)].collect().toSeq
    // subset contract holds
    assert(absCapped.map(p => (p._1, p._2)).toSet.subsetOf(exact))
    // "stopw" (df 3 > 2) is out of the join; the 4 rare quote tokens
    // (df 2) remain → containment 4/5 = 8000 exactly for the real pair
    assert(absCapped == Seq((1L, 2L, 8000L)), s"got $absCapped")
  }

  test("containmentPairs minSize drops trivially-contained tiny docs") {
    val tiny = Seq(
      (1L, "alpha beta", "en"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "en")
    ).toDF("doc_id", "text", "lang")
    assert(Dedup.containmentPairs(tiny, "doc_id", "text",
      Seq(col("lang")), 9000L, minSize = 3).count() == 0)
    assert(Dedup.containmentPairs(tiny, "doc_id", "text",
      Seq(col("lang")), 9000L, minSize = 0).count() == 1)
  }

  test("incremental CC: merge, bridge-to-unseen, untouched, and unseen-only cases") {
    // standing components: {1,2}, {5,6}, {10,11} (labels 1, 5, 10)
    val oldPairs = Seq((1L, 2L), (5L, 6L), (10L, 11L)).toDF("id_a", "id_b")
    val oldLabels = Dedup.connectedComponents(oldPairs)
    // delta: (2,5) merges the first two components; (6,20) bridges an
    // UNSEEN node into the merged one; (21,22) is an unseen-only pair;
    // component {10,11} is untouched by the delta
    val delta = Seq((2L, 5L), (6L, 20L), (21L, 22L)).toDF("id_a", "id_b")
    val incr = Dedup.connectedComponentsIncremental(oldLabels, delta)
      .as[(Long, Long)].collect().toMap
    assert(incr === Map(
      1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 20L -> 1L,
      10L -> 10L, 11L -> 10L,
      21L -> 21L, 22L -> 21L))
    // structural equality with the rebuild over the union edge set
    val rebuilt = Dedup.connectedComponents(
        oldPairs.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    assert(incr === rebuilt)
  }

  test("incremental CC: a delta whose new min id takes over the merged label") {
    // standing {4,5} (label 4); delta (3,4): node 3 is unseen AND the
    // new minimum — the merged component must relabel to 3, proving
    // the expansion remaps OLD nodes through the contracted result
    // rather than keeping their old minima
    val oldLabels = Dedup.connectedComponents(Seq((4L, 5L)).toDF("id_a", "id_b"))
    val incr = Dedup.connectedComponentsIncremental(oldLabels,
        Seq((3L, 4L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(incr === Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("incremental CC equals rebuild on a real pair set split 80/20") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 32, 8, 0.5)
      .select("id_a", "id_b").localCheckpoint(true)
    val standing = pairs.filter((col("id_a") + col("id_b")) % 5 =!= 0)
    val delta = pairs.filter((col("id_a") + col("id_b")) % 5 === 0)
    val incr = Dedup.connectedComponentsIncremental(
        Dedup.connectedComponents(standing), delta)
      .as[(Long, Long)].collect().toMap
    val rebuilt = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(incr === rebuilt)
    assert(incr.nonEmpty)
  }

  test("incremental CC shuffle stays delta-sized as the standing table grows x10") {
    // the r17 semi-join-reduction contract, LOCKED as a runtime
    // assertion (CcDeltaProbe carries the sf0.1 record): with a fixed
    // delta, a x10 standing label table must grow the per-merge
    // shuffle by ~nothing — the standing table is scanned (semi
    // reduction + remap) but never shuffled; every exchange carries
    // delta-sized rows. Without the reduction, the contraction joins
    // shuffle the standing table and this count grows ~x10.
    val shuf = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuf.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
        ()
      }
    }
    val delta = (0L until 40L).map(i => (i * 7L, i * 7L + 3L))
      .toDF("id_a", "id_b").localCheckpoint(true)
    def standing(n: Long) = spark.range(n)
      .select(col("id"), (col("id") - pmod(col("id"), lit(10L))).as("label"))
      .localCheckpoint(true)
    def measure(labels: org.apache.spark.sql.DataFrame): Long = {
      spark.sparkContext.addSparkListener(l)
      shuf.set(0L)
      Dedup.connectedComponentsIncremental(labels, delta).count()
      spark.sparkContext.removeSparkListener(l)
      CacheScope.release(spark)
      shuf.get()
    }
    val small = measure(standing(2000L))
    val big = measure(standing(20000L))
    assert(big < small * 3 / 2,
      s"x10 standing must not grow the shuffle: $small -> $big records")
  }

  test("incremental Hamming pairing shuffle stays pair-sized as the standing table grows x10") {
    // the r19 candidate-stream contract (MediaDeltaProbe carries the
    // sf0.1 record: 2.21M -> 101 shuffle records), LOCKED as a runtime
    // assertion (r19 verdict next #4): the hamming FILTER runs BEFORE
    // the dropDuplicates exchange, so with a fixed batch a x10
    // standing fingerprint table must keep shuffle-write records flat
    // and within a small factor of the TRUE pair count — the candidate
    // stream (standing-size-proportional chunk-key matches) dies
    // map-side. A regression reintroducing the post-exchange filter is
    // oracle-invisible (same pair set) but grows this count with the
    // standing size and fails here.
    val shuf = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuf.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
        ()
      }
    }
    def kindOf(c: org.apache.spark.sql.Column) =
      when(pmod(c, lit(3L)) === 0L, lit("audio")).otherwise(lit("image"))
    // fixed batch: every 20th row is a planted near-dup of a standing
    // row (fp equal up to one low bit), the rest xxhash-scattered so
    // chunk-key matches stay sparse — the daily-delta regime
    val batch = spark.range(600L).select(
        (col("id") + lit(10000000L)).as("media_id"),
        kindOf(col("id")).as("kind"),
        when(pmod(col("id"), lit(20L)) === 0L,
          xxhash64(col("id") * 7L).bitwiseXOR(lit(1L)))
          .otherwise(xxhash64(col("id") + lit(5000000L))).as("fp"))
      .localCheckpoint(true)
    def standing(n: Long) = spark.range(n).select(
        col("id").as("media_id"), kindOf(col("id")).as("kind"),
        xxhash64(col("id") * 7L).as("fp"))
      .localCheckpoint(true)
    def measure(n: Long): (Long, Long) = {
      spark.sparkContext.addSparkListener(l)
      shuf.set(0L)
      val nPairs = Dedup.hammingPairsIncremental(batch, standing(n),
        "media_id", "fp", 4, blockCols = Seq("kind")).count()
      org.apache.spark.graft.ShuffleDrain.flushListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      CacheScope.release(spark)
      (shuf.get(), nPairs)
    }
    val (small, pSmall) = measure(20000L)
    val (big, pBig) = measure(200000L)
    assert(pBig >= pSmall && pBig > 0L, "fixture must produce planted pairs")
    assert(big < small * 3 / 2,
      s"x10 standing must not grow the shuffle: $small -> $big records")
    assert(big <= pBig * 10L + 200L,
      s"shuffle must stay pair-sized: $big records for $pBig pairs")
  }
}
