package graft

import graft.functions.Distances
import graft.operators.NeighborJoin
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5.1): grid-blocked ε-join ≡ cartesian oracle on
  * random point sets in the reference data's observed ranges. Uses raw
  * ScalaCheck generators with fixed seeds (no scalatestplus bridge in the
  * offline dependency set). */
class PropertySpec extends GraftSuite {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("grid eps-join equals cartesian oracle on random points (property)") {
    val gen = for {
      n <- Gen.choose(20, 120)
      dims <- Gen.oneOf(2, 3)
      seed <- Gen.choose(0L, 10000L)
      eps <- Gen.choose(1, 12)
    } yield (n, dims, seed, eps.toDouble)
    samples(gen, 8).foreach { case (n, dims, seed, eps) =>
      val rnd = new scala.util.Random(seed)
      val df = (0 until n)
        .map(i => (i.toLong, Array.fill(dims)(rnd.nextInt(60).toDouble)))
        .toDF("id", "pt")
      val grid = NeighborJoin.epsJoinGrid(df, "id", "pt", eps, blockDims = dims.min(2))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val cross = EpsJoinOracle.epsJoinCross(df, "pt", eps)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(grid == cross, s"n=$n dims=$dims seed=$seed eps=$eps")
    }
  }

  test("minhash signature agreement tracks true Jaccard (property)") {
    // Broder's estimator contract over the DETERMINISTIC permutation
    // family (Dedup.minhashPerms): for random hash sets with known
    // overlap, the per-permutation agreement fraction estimates true
    // Jaccard within binomial error (sd <= sqrt(J(1-J)/64) ~= 0.06).
    // The round-11 small-multiplier family FAILS this spec through its
    // min-dominator degeneracy — a hash below ~P/127 never wraps mod P
    // and wins every permutation, so the adversarial pair below (tiny
    // hash in the symmetric difference, J ~= 0.97) read agreement ~0.
    val P = graft.functions.PolyHash.Prime
    val perms = graft.operators.Dedup.minhashPerms(64)
    def sig(s: Set[Long]): Seq[Long] =
      perms.map { case (a, b) => s.iterator.map(h => (h * a + b) % P).min }
    def agree(x: Set[Long], y: Set[Long]): Double =
      sig(x).zip(sig(y)).count { case (u, v) => u == v } / 64.0
    def jac(x: Set[Long], y: Set[Long]): Double =
      (x & y).size.toDouble / (x | y).size
    val rnd = new scala.util.Random(20251216L)
    def draw(n: Int): IndexedSeq[Long] =
      IndexedSeq.fill(n)(rnd.nextLong(P - 1) + 1).distinct
    val errs = (0 until 40).map { _ =>
      val shared = draw(rnd.between(5, 40)).toSet
      val a = shared ++ draw(rnd.between(0, 25))
      val b = shared ++ draw(rnd.between(0, 25))
      math.abs(agree(a, b) - jac(a, b))
    }
    assert(errs.sum / errs.size < 0.06,
      f"mean |agreement - J| = ${errs.sum / errs.size}%.3f")
    assert(errs.max < 0.25, f"max |agreement - J| = ${errs.max}%.3f")
    // the adversarial min-dominator pair: one tiny hash in the
    // difference of two otherwise-identical 40-element sets
    val base = draw(40).toSet
    val adv = math.abs(agree(base + 12345L, base) - jac(base + 12345L, base))
    assert(adv < 0.25, f"min-dominator pair error $adv%.3f — the " +
      "small-multiplier degeneracy is back")
  }

  test("sorted merge-intersect equals array_intersect size (property)") {
    val gen = for {
      na <- Gen.choose(0, 40)
      nb <- Gen.choose(0, 40)
      seed <- Gen.choose(0L, 9999L)
    } yield (na, nb, seed)
    samples(gen, 10).foreach { case (na, nb, seed) =>
      val rnd = new scala.util.Random(seed)
      // distinct sorted draws from a small universe → real overlaps
      val a = rnd.shuffle((0L until 60L).toList).take(na).sorted.toArray
      val b = rnd.shuffle((0L until 60L).toList).take(nb).sorted.toArray
      val got = Seq((a, b)).toDF("a", "b").select(
        graft.functions.VecKernels.sorted_intersect_count(col("a"), col("b")),
        size(array_intersect(col("a"), col("b"))))
        .as[(Int, Int)].head()
      assert(got._1 == got._2, s"na=$na nb=$nb seed=$seed")
    }
  }

  test("inverted-index BM25 equals fixed-bag BM25 on random corpora (property)") {
    // same idf/tf/norm arithmetic, different summation discipline (exact
    // integer lift vs literal-order float fold) — equal within 1e-6, and
    // the postings form covers exactly the docs containing >= 1 term
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val gen = for {
      nDocs <- Gen.choose(3, 25)
      maxLen <- Gen.choose(1, 40)
      nTerms <- Gen.choose(1, 4)
      seed <- Gen.choose(0L, 9999L)
    } yield (nDocs, maxLen, nTerms, seed)
    samples(gen, 8).foreach { case (nDocs, maxLen, nTerms, seed) =>
      val rnd = new scala.util.Random(seed)
      val docs = (0 until nDocs).map { i =>
        val len = rnd.nextInt(maxLen + 1)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val terms = rnd.shuffle(vocab).take(nTerms)
      val fixed = graft.operators.LexicalRank.bm25(docs, "doc_id", "text", terms)
        .as[(Long, Double)].collect().toMap
      val inv = graft.operators.LexicalRank
        .bm25Inverted(docs, "doc_id", "text", terms)
        .as[(Long, Double)].collect().toMap
      for ((id, s) <- inv)
        assert(math.abs(s - fixed(id)) <= 1e-6,
          s"doc $id: $s vs ${fixed(id)} (nDocs=$nDocs terms=$terms seed=$seed)")
      val expected = fixed.filter(_._2 > 0).keySet
      assert(expected.subsetOf(inv.keySet),
        s"positive-scoring docs missing from postings: seed=$seed")
    }
  }

  test("chunkTokens tiles every token exactly per (len, stride) (property)") {
    val gen = for {
      n <- Gen.choose(0, 60)
      chunkLen <- Gen.choose(1, 12)
      stride <- Gen.choose(1, 12)
    } yield (n, chunkLen, stride)
    samples(gen, 10).foreach { case (n, chunkLen, stride) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val out = graft.operators.Chunking.chunkTokens(
          Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text",
          chunkLen, stride)
        .select("chunk_idx", "start", "n_tokens")
        .as[(Int, Int, Long)].collect().sortBy(_._1)
      if (n == 0) assert(out.isEmpty)
      else {
        val expStarts = 1 to n by stride
        assert(out.map(_._2).toSeq == expStarts.toSeq,
          s"starts n=$n len=$chunkLen stride=$stride")
        assert(out.forall(c => c._3 == math.min(chunkLen, n - c._2 + 1)),
          s"lengths n=$n len=$chunkLen stride=$stride")
        // stride <= chunkLen covers every token
        if (stride <= chunkLen) {
          val covered = out.flatMap(c => c._2 until (c._2 + c._3.toInt)).toSet
          assert(covered == (1 to n).toSet)
        }
      }
    }
  }

  test("prefix-filtered containment equals the brute h-join on random corpora (property)") {
    val gen = for {
      nDocs <- Gen.choose(4, 20)
      vocab <- Gen.choose(3, 10)
      maxLen <- Gen.choose(2, 25)
      tau <- Gen.oneOf(0.5, 0.7, 0.9)
      seed <- Gen.choose(0L, 9999L)
    } yield (nDocs, vocab, maxLen, tau, seed)
    samples(gen, 8).foreach { case (nDocs, vocab, maxLen, tau, seed) =>
      val rnd = new scala.util.Random(seed)
      val docs = (0 until nDocs).map { i =>
        val len = 1 + rnd.nextInt(maxLen)
        (i.toLong, Seq.fill(len)("w" + rnd.nextInt(vocab)).mkString(" "))
      }.toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .containmentPairs(docs, "doc_id", "text", n = 2, tau)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // brute oracle: h-join intersection counts over the same hash sets
      val sh = graft.operators.Dedup
        .shingleHashIndex(docs, "doc_id", "text", 2)
        .as[(Long, Long)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val brute = (for {
        (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
        if a != b && sa.nonEmpty
        c = (sa & sb).size
        // Spark's round(_, 6) is HALF_UP over valueOf(double)
        if BigDecimal.decimal(c.toDouble / sa.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal.decimal(tau)
      } yield (a, b)).toSet
      assert(got == brute, s"nDocs=$nDocs vocab=$vocab tau=$tau seed=$seed")
    }
  }

  test("capped winnow pairs equal the brute fingerprint join (property)") {
    val gen = for {
      nDocs <- Gen.choose(4, 16)
      vocab <- Gen.choose(3, 8)
      maxLen <- Gen.choose(4, 30)
      minShared <- Gen.choose(1, 3)
      seed <- Gen.choose(0L, 9999L)
    } yield (nDocs, vocab, maxLen, minShared, seed)
    samples(gen, 6).foreach { case (nDocs, vocab, maxLen, minShared, seed) =>
      val rnd = new scala.util.Random(seed)
      val docs = (0 until nDocs).map { i =>
        val len = 1 + rnd.nextInt(maxLen)
        (i.toLong, Seq.fill(len)("w" + rnd.nextInt(vocab)).mkString(" "))
      }.toDF("doc_id", "text")
      val maxDf = 1 + rnd.nextInt(nDocs)
      val got = graft.operators.Dedup
        .winnowPairs(docs, "doc_id", "text", n = 2, w = 4,
          minShared.toLong, maxDf.toLong)
        .select("id_a", "id_b", "n_shared").as[(Long, Long, Long)]
        .collect().toSet
      // brute: per-doc distinct fingerprint HASHES from the kernel,
      // df-capped, pairwise intersection counts
      val fp0 = docs.select(col("doc_id"),
          graft.functions.TextKernels
            .winnow_fingerprints(col("text"), 2, 4).as("f"))
        .as[(Long, Seq[Long])].collect()
        .map { case (id, es) => id -> es.map(_ >> 20).toSet }.toMap
      val dfs = fp0.values.flatten.groupBy(identity).view.mapValues(_.size)
      val fp = fp0.view.mapValues(_.filter(h => dfs(h) <= maxDf)).toMap
      val brute = (for {
        (a, sa) <- fp.toSeq; (b, sb) <- fp.toSeq
        if a < b
        c = (sa & sb).size
        if c >= minShared
      } yield (a, b, c.toLong)).toSet
      assert(got == brute,
        s"nDocs=$nDocs vocab=$vocab maxDf=$maxDf minShared=$minShared seed=$seed")
    }
  }

  test("native L1/dot kernels equal the higher-order-function forms (property)") {
    val gen = for {
      dims <- Gen.choose(1, 32)
      seed <- Gen.choose(0L, 9999L)
    } yield (dims, seed)
    samples(gen, 8).foreach { case (dims, seed) =>
      val rnd = new scala.util.Random(seed)
      val a = Array.fill(dims)(rnd.nextDouble() * 100 - 50)
      val b = Array.fill(dims)(rnd.nextDouble() * 100 - 50)
      val row = Seq((a, b)).toDF("a", "b")
      val got = row.select(
        Distances.l1(col("a"), col("b")),
        Distances.l1Hof(col("a"), col("b")),
        Distances.dot(col("a"), col("b")),
        Distances.dotHof(col("a"), col("b")))
        .as[(Double, Double, Double, Double)].head()
      assert(got._1 == got._2, s"l1 kernel != HOF form dims=$dims seed=$seed")
      assert(got._3 == got._4, s"dot kernel != HOF form dims=$dims seed=$seed")
    }
  }

  test("blockedSelfPairs equals the plain pair join on random skewed groups (property)") {
    // the semdedup hot-bucket guard: exact triangle blocking must emit
    // each unordered within-group pair EXACTLY once for any group-size
    // distribution and any cap — including caps of 1 (every row its own
    // slice), caps above every group (degenerate single block), and
    // power-law group sizes (the distribution the guard exists for)
    val gen = for {
      n <- Gen.choose(10, 160)
      nGroups <- Gen.oneOf(1, 2, 5)
      skew <- Gen.oneOf(true, false)
      cap <- Gen.oneOf(1, 3, 17, 500)
      seed <- Gen.choose(0L, 100000L)
    } yield (n, nGroups, skew, cap, seed)
    samples(gen, 8).foreach { case (n, nGroups, skew, cap, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0L until n.toLong).map { i =>
        // skew=true sends ~90% of rows to group 0
        val g = if (skew && rnd.nextInt(10) > 0) 0 else rnd.nextInt(nGroups)
        (s"g$g", i, rnd.nextInt(5).toLong)
      }.toDF("grp", "id", "v")
      def norm(df: org.apache.spark.sql.DataFrame) = df.select(
        col("grp"),
        least(col("id_a"), col("id_b")).as("lo"),
        greatest(col("id_a"), col("id_b")).as("hi"),
        when(col("id_a") < col("id_b"), col("v_a")).otherwise(col("v_b")).as("v_lo"))
        .collect().map(_.toString).sorted.toSeq
      val a = rows.select(col("grp"), col("id").as("id_a"), col("v").as("v_a"))
      val b = rows.select(col("grp"), col("id").as("id_b"), col("v").as("v_b"))
      val plain = norm(a.join(b, "grp").where(col("id_a") < col("id_b")))
      val blocked = norm(
        graft.operators.SkewJoin.blockedSelfPairs(rows, "grp", "id", cap))
      assert(blocked === plain,
        s"n=$n groups=$nGroups skew=$skew cap=$cap seed=$seed")
    }
  }

  test("simhash bit agreement tracks set cosine; <=3-bit pairs always band-collide (property)") {
    // The round-12 MinHash lesson applied to SimHash: the hash-exact
    // gates can't see an estimator degeneracy their oracle mirrors, so
    // pin the CONTRACT against brute similarity. simhash60 is signed
    // random projection with Rademacher planes (bit b of each shingle's
    // 60-bit hash), so for two shingle sets at angle θ the expected
    // per-bit agreement is 1 - θ/π (Charikar STOC'02); measured over 60
    // bits and 40 random pairs the mean error must sit inside sampling
    // noise. A constant/correlated-bit degeneracy reads agreement ~1 for
    // everything; a broken sign reads ~0.5 everywhere.
    def sim(words: Seq[String]): Long =
      graft.functions.TextKernels.simhash60(words.mkString(" "), 1)
    def agree(a: Long, b: Long): Double =
      (60 - java.lang.Long.bitCount((a ^ b) & ((1L << 60) - 1))) / 60.0
    val rnd = new scala.util.Random(20260816L)
    var vocabAt = 0
    // tokens long enough that PolyHash wraps mod the prime (short strings
    // leave the high fingerprint bits unpopulated — which is fine for the
    // gate's multi-word shingles but would bias this unigram probe)
    def draw(n: Int): Seq[String] =
      (0 until n).map { _ => vocabAt += 1; f"token$vocabAt%08dpadding" }
    val errs = (0 until 40).map { _ =>
      val shared = draw(rnd.between(10, 50))
      val a = shared ++ draw(rnd.between(0, 30))
      val b = shared ++ draw(rnd.between(0, 30))
      val cos = shared.size.toDouble / math.sqrt(a.size.toDouble * b.size)
      val expected = 1.0 - math.acos(cos) / math.Pi
      math.abs(agree(sim(a), sim(b)) - expected)
    }
    assert(errs.sum / errs.size < 0.06,
      f"mean |agreement - (1 - theta/pi)| = ${errs.sum / errs.size}%.3f")
    assert(errs.max < 0.25, f"max contract error = ${errs.max}%.3f")
    // identical sets agree exactly; disjoint sets sit near 0.5
    val x = draw(40)
    assert(agree(sim(x), sim(x)) == 1.0)
    val far = (0 until 20).map(_ => agree(sim(draw(40)), sim(draw(40))))
    assert(math.abs(far.sum / far.size - 0.5) < 0.1,
      f"disjoint-set agreement ${far.sum / far.size}%.3f not near 0.5")
    // simhashPairs' recall guarantee is DETERMINISTIC, not statistical:
    // hamming <= 3 over 4 disjoint 15-bit bands pigeonholes >= 1 band
    // equal, so no <= maxHamming pair can escape the candidate join
    (0 until 200).foreach { _ =>
      val fp = rnd.nextLong() & ((1L << 60) - 1)
      val flipped = (0 until rnd.between(0, 4))
        .foldLeft(fp)((f, _) => f ^ (1L << rnd.nextInt(60)))
      val bands = (0 until 4).map(b => ((fp >> (b * 15)) & 0x7FFF,
        (flipped >> (b * 15)) & 0x7FFF))
      assert(bands.exists(p => p._1 == p._2),
        f"<=3-bit pair escaped all 4 bands: $fp%x vs $flipped%x")
    }
  }

  test("sign-band agreement tracks vector angle; gate geometry has full recall (property)") {
    // Same contract pin for the embedding LSH family: per-hyperplane
    // sign agreement on vectors at a KNOWN angle must read 1 - θ/π.
    // Probed through the public column (bits = 1 → every band key IS one
    // plane's sign), so the pin covers the shipped kernel end-to-end.
    val angles = Seq(0.3, 0.7, 1.1, 1.6, 2.1, 2.6)
    val rnd = new scala.util.Random(20260817L)
    val dim = 64
    val rows = for (α <- angles; i <- 0 until 6) yield {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val r = Array.fill(dim)(rnd.nextGaussian())
      val vn = math.sqrt(v.map(x => x * x).sum)
      val dotVR = v.zip(r).map(p => p._1 * p._2).sum / (vn * vn)
      val u0 = r.zip(v).map(p => p._1 - dotVR * p._2) // r ⊥ v component
      val un = math.sqrt(u0.map(x => x * x).sum)
      val w = v.zip(u0).map(p =>
        math.cos(α) * p._1 / vn + math.sin(α) * p._2 / un)
      (α, i, v.map(_ / vn), w)
    }
    val keyed = rows.toDF("angle", "i", "a", "b").select(col("angle"), col("i"),
      graft.functions.VecKernels.sign_bands(col("a"), dim, bits = 1,
        bands = 320).as("ka"),
      graft.functions.VecKernels.sign_bands(col("b"), dim, bits = 1,
        bands = 320).as("kb"))
      .select(col("angle"),
        (size(filter(zip_with(col("ka"), col("kb"), (x, y) => x === y),
          m => m)) / 320.0).as("agree"))
      .groupBy("angle").agg(avg("agree").as("agree"))
      .as[(Double, Double)].collect().toMap
    angles.foreach { α =>
      val expected = 1.0 - α / math.Pi
      assert(math.abs(keyed(α) - expected) < 0.05,
        f"angle $α%.1f: agreement ${keyed(α)}%.3f vs ${expected}%.3f")
    }
    // The embed gates' correctness rides the 64-band/5-bit geometry
    // having EMPIRICAL full recall at cos >= 0.4 on the test embeddings
    // (their oracle is the brute pair SQL) — measure it the way the text
    // side measures banding recall, on both the correctness corpus
    // (sf0.01) and the bench corpus (sf0.1)
    for (dirSf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = graft.core.Tables.table(spark, dirSf, "embeddings")
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .localCheckpoint()
      val brute = graft.operators.SimilaritySearch
        .cosinePairs(e.select(col("id").as("vec_id"), col("vec").as("embedding")),
          "vec_id", "embedding", 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val banded = e.select(col("id"), posexplode(
          graft.functions.VecKernels.sign_bands(col("vec"), dim = 64,
            bits = 5, bands = 64)).as(Seq("band", "key")))
      val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct().as[(Long, Long)].collect().toSet
      assert(brute.nonEmpty, s"$dirSf: no brute pairs — recall pin vacuous")
      assert(brute.subsetOf(cand),
        s"$dirSf: sign-band candidates miss ${(brute -- cand).size} of " +
          s"${brute.size} brute pairs >= 0.4: ${(brute -- cand).take(5)}")
    }
  }

  test("winnowing fingerprints honor the shared-substring guarantee (property)") {
    // Schleimer SIGMOD'03 guarantee: a shared token run of length
    // >= w + n - 1 contains a full window of w shared n-gram hashes, and
    // enc = h·2^20 + posbits makes each doc select that window's minimal
    // HASH (h dominates the encoding), so the docs must share >= 1
    // fingerprint hash — for any surrounding text, any run placement.
    val n = 2
    val w = 4
    def fps(words: Seq[String]): Set[Long] =
      graft.functions.TextKernels
        .winnowFingerprints(words.mkString(" "), n, w).map(_ >> 20).toSet
    val rnd = new scala.util.Random(20260818L)
    (0 until 30).foreach { t =>
      val run = (0 until w + n - 1).map(i => s"s${t}_$i")  // exactly w+n-1
      def host(prefix: String): Seq[String] = {
        val pre = Seq.fill(rnd.nextInt(20))(s"$prefix${rnd.nextInt(50)}")
        val post = Seq.fill(rnd.nextInt(20))(s"$prefix${rnd.nextInt(50)}")
        pre ++ run ++ post
      }
      val a = host("a")
      val b = host("b")
      assert((fps(a) & fps(b)).nonEmpty,
        s"planted ${w + n - 1}-token run produced no shared fingerprint " +
          s"(|a|=${a.size} |b|=${b.size} trial $t)")
      // control: disjoint vocabularies share nothing
      val c = Seq.fill(20 + rnd.nextInt(20))(s"c${rnd.nextInt(50)}")
      assert((fps(a) & fps(c)).isEmpty,
        s"disjoint-vocab docs shared a fingerprint (trial $t)")
    }
  }

  test("unimax waterfill equals the brute-force integer water level (property)") {
    // the closed-form window waterfill (Sampling.unimaxAlloc) must pick
    // exactly alloc_s = min(cap_s, θ*) with θ* the LARGEST integer level
    // whose total fits the budget — verified against a binary search on
    // random source tables, including duplicate sizes
    val gen = for {
      n <- Gen.choose(2, 30)
      seed <- Gen.choose(0L, 100000L)
      cap <- Gen.oneOf(2, 3, 4)
    } yield (n, seed, cap)
    samples(gen, 10).foreach { case (n, seed, cap) =>
      val rnd = new scala.util.Random(seed)
      val sizes = (0 until n).map(i =>
        (s"s$i", (rnd.nextInt(100000) + 1).toLong))
      val out = graft.operators.Sampling
        .unimaxAlloc(sizes.toDF("source", "n_tokens"), cap, 3, 5)
        .select("source", "alloc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val caps = sizes.map { case (s, t) => s -> t * cap }.toMap
      val budget = sizes.map(_._2).sum * 3 / 5
      def totalAt(th: Long): Long = caps.values.map(c => math.min(c, th)).sum
      var lo = 0L
      var hi = caps.values.max
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (totalAt(mid) <= budget) lo = mid else hi = mid - 1
      }
      val expect = caps.map { case (s, c) => s -> math.min(c, lo) }
      assert(out === expect, s"n=$n seed=$seed cap=$cap budget=$budget theta=$lo")
      assert(out.values.sum <= budget, s"overspent n=$n seed=$seed cap=$cap")
    }
    // degenerate all-zero corpus: every cap and the budget are 0, every
    // row saturates, and the water-level row is empty — the operator must
    // still emit one alloc=0 row per source, not an empty frame
    val zero = graft.operators.Sampling
      .unimaxAlloc(Seq(("a", 0L), ("b", 0L)).toDF("source", "n_tokens"),
        2, 3, 5)
      .select("source", "alloc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(zero === Map("a" -> 0L, "b" -> 0L))
  }

  test("IVF recall floor survives distribution shift (property)") {
    // The round-12 MinHash lesson ("kernel and oracle can agree on the
    // wrong thing") applied to the ANN quantizer: the 0.9 clustered
    // recall floor was measured on the GATE corpus only, so an
    // embeddings refresh could silently void the contract. Regenerate
    // clusterable corpora across data seeds AND cluster counts — fresh
    // random centers, fresh noise, cluster structure the fit has never
    // seen — and require the floor to hold on every draw.
    import graft.operators.SimilaritySearch
    val dim = 16
    val perCluster = 40
    for (dataSeed <- Seq(101L, 202L); nClusters <- Seq(4, 8, 16)) {
      val rnd = new scala.util.Random(dataSeed * 1000 + nClusters)
      val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
        .map { c => val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n) }
      val vecs = (for (c <- 0 until nClusters; i <- 0 until perCluster)
        yield ((c.toLong * perCluster + i),
          centers(c).map(_ + 0.15 * rnd.nextGaussian()).toSeq))
        .toDF("vec_id", "embedding").localCheckpoint()
      val q = vecs.where(col("vec_id") % 37 === 0)
      val brute = SimilaritySearch
        .cosineTopK(vecs, q, "vec_id", "embedding", 5)
        .select("q_id", "id").as[(Long, Long)].collect().toSet
      assert(brute.nonEmpty, "no brute neighbors — recall pin vacuous")
      val idx = SimilaritySearch.ivfIndex(vecs, "vec_id", "embedding",
        nlist = nClusters, seed = 7)
      val ivf = idx.search(q, "vec_id", "embedding", 5,
          nprobe = math.max(2, nClusters / 4))
        .select("q_id", "id").as[(Long, Long)].collect().toSet
      val recall = (brute & ivf).size.toDouble / brute.size
      assert(recall >= 0.9,
        f"dataSeed=$dataSeed nClusters=$nClusters recall=$recall%.3f < 0.9")
      graft.core.LineageCut.release(vecs)
    }
  }
}
