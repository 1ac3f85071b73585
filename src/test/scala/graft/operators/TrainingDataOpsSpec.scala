package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{TextFunctions => TF}

/** Planted-example tests for the training-data hygiene operators:
  * decontamination, Gopher repetition metrics (including the newline cases
  * the synthetic corpus can't exercise — its docs are single-line), and
  * deterministic sampling invariants the DuckDB oracle rows don't cover
  * (nesting, split completeness, key-level stability).
  */
class TrainingDataOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("foldCol: every row gets one fold in [0, k), deterministic and balanced") {
    val ids = (0L until 1000L).toDF("id")
    val a = ids.select(col("id"), Sampling.foldCol(col("id"), 5).as("f"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = ids.select(col("id"), Sampling.foldCol(col("id"), 5).as("f"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b, "fold assignment must be deterministic")
    assert(a.values.forall(f => f >= 0 && f < 5))
    val sizes = a.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size == 5 && sizes.values.forall(s => s > 150 && s < 250),
      sizes.toMap.toString)
  }

  test("weightedSample: exact size, deterministic, excludes w<=0, prefers heavy rows") {
    val rows = (0L until 100L).map(i => (i, if (i == 7L) 1000000.0 else 1.0)) :+
      (100L, 0.0) :+ (101L, -3.0)
    val df = rows.toDF("id", "w")
    val a = Sampling.weightedSample(df, col("id"), col("w"), k = 10)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedSample(df, col("id"), col("w"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 10)
    assert(!a.contains(100L) && !a.contains(101L), "non-positive weights can never draw")
    assert(a.contains(7L), "the million-to-one row must be drawn on this fixed keyspace")
  }

  test("decontaminate flags the doc that copies benchmark text, not the clean one") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "intro words then the quick brown fox jumps over the lazy dog and more"),
      (2L, "completely different vocabulary about spark catalyst plans"),
      (3L, "quick brown fox appears here")) // shares 1 distinct 3-gram
      .toDF("doc_id", "text")
    val got = Dedup.decontaminate(docs, bench, "text", "doc_id",
      n = 3, minOverlap = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 contains the benchmark's 7-token run -> shares its first 5
    // 3-grams... all 7 3-grams of the benchmark appear in doc 1
    assert(got.keySet == Set(1L))
    assert(got(1L) == 7L)
    // at minOverlap = 1 doc 3 appears too ("quick brown fox")
    val loose = Dedup.decontaminate(docs, bench, "text", "doc_id",
      n = 3, minOverlap = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loose.keySet == Set(1L, 3L))
    assert(loose(3L) == 1L)
    // the removal form is exactly the complement of the flags
    val kept = Dedup.removeContaminated(docs, bench, "text", "doc_id",
      n = 3, minOverlap = 1).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
    val keptStrict = Dedup.removeContaminated(docs, bench, "text", "doc_id",
      n = 3, minOverlap = 2).select("doc_id").as[Long].collect().toSet
    assert(keptStrict == Set(2L, 3L))
  }

  test("repetition metrics on multi-line planted docs") {
    val docs = Seq(
      (1L, "aaa\nbbb\naaa\nccc"),    // 4 lines, one repeated pair
      (2L, "x y x y x y"),           // bigrams: xy yx xy yx xy -> top "x y" 3/5
      (3L, ""),
      (4L, "one\n\n  \ntwo")         // blank/whitespace lines dropped
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      TF.duplicateLineFraction(col("text")).as("dlf"),
      TF.duplicateLineCharFraction(col("text")).as("dlcf"),
      TF.duplicateNgramFraction(col("text"), 2).as("dnf"),
      TF.topNgramFraction(col("text"), 2).as("tnf"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // doc 1: 4 lines, 3 distinct -> dup_line 1/4; dup chars 6/12
    assert(got(1L)._1 == 0.25)
    assert(got(1L)._2 == 0.5)
    // doc 2: bigrams [x y, y x, x y, y x, x y]: 5 total 2 distinct
    assert(got(2L)._3 == 3.0 / 5.0)
    assert(got(2L)._4 == 3.0 / 5.0)
    // empty doc: all zeros, no division blowup
    assert(got(3L) == ((0.0, 0.0, 0.0, 0.0)))
    // whitespace-only lines don't count
    assert(got(4L)._1 == 0.0)
  }

  test("exactAgainst drops corpus copies and within-batch repeats, keeps first occurrence") {
    val corpus = Seq((10L, "historic document alpha"), (11L, "historic document beta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "fresh content one"),
      (2L, "historic document alpha"),   // byte-copy of corpus -> drop
      (3L, "fresh content two"),
      (4L, "fresh content one"),         // within-batch repeat -> drop (1 survives)
      (5L, "fresh content two")          // within-batch repeat -> drop
    ).toDF("doc_id", "text")
    val got = Dedup.exactAgainst(batch, corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
    // the Bloom-prefiltered path is exact (no false negatives + verified
    // positives), even at a tiny sketch where false positives are certain
    for (bits <- Seq(64, 1 << 16)) {
      val viaBloom = Dedup.exactAgainstBloom(batch, corpus, "text", "doc_id",
        numBits = bits, k = 3).select("doc_id").as[Long].collect().toSet
      assert(viaBloom == Set(1L, 3L), s"numBits=$bits")
    }
  }

  test("removeDuplicatedSpans: non-first 8-gram occurrences removed, first kept, exact copy emptied") {
    val eightGram = (1 to 8).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, "a b c d e f g h i j"),            // first occurrence of "c..j" 8-gram
      (2L, s"x y c d e f g h i j z"),         // repeats doc1's span -> span removed
      (3L, "a b c d e f g h i j"),            // exact copy of doc1 -> fully emptied
      (4L, s"$eightGram $eightGram"),         // within-doc repeat -> second half removed
      (5L, "short doc under k tokens")        // no windows -> untouched
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(docs, "text", "doc_id", k = 8)
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(1L) == (("a b c d e f g h i j", 0L)))
    assert(got(2L) == (("x y z", 8L)))
    assert(got(3L) == (("", 10L)))
    assert(got(4L) == ((eightGram, 8L)))
    assert(got(5L) == (("short doc under k tokens", 0L)))
  }

  test("removeDuplicatedSpansAgainst: corpus spans and within-batch repeats removed, fresh text kept") {
    val corpus = Seq((100L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "intro words the quick brown fox jumps over the lazy outro"), // corpus 8-gram inside
      (2L, "entirely novel content with no overlap against anything stored"),
      (3L, "entirely novel content with no overlap against anything stored")  // within-batch copy of 2
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpansAgainst(batch,
      Dedup.spanHashes(corpus, "text", k = 8), "text", "doc_id", k = 8)
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // doc 1: the corpus 8-gram "the quick ... the lazy" covers tokens 2..9
    assert(got(1L) == (("intro words outro", 8L)))
    assert(got(2L) == (("entirely novel content with no overlap against anything stored", 0L)))
    assert(got(3L) == (("", 9L))) // exact within-batch copy empties out
  }

  test("connectedComponentsStar: chains collapse to the min id, separate components " +
      "stay apart, == union-find model on random graphs") {
    val fixed = Seq(
      (2L, 9L), (9L, 5L),                    // chain with a larger-id middle
      (100L, 101L),                          // separate component
      (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L) // 5-chain: needs >1 round
    ).toDF("id_a", "id_b")
    assert(Dedup.connectedComponentsStar(fixed, "id_a", "id_b", "id")
      .as[(Long, Long)].collect().toMap == Map(2L -> 2L, 9L -> 2L, 5L -> 2L,
      100L -> 100L, 101L -> 100L,
      11L -> 11L, 12L -> 11L, 13L -> 11L, 14L -> 11L, 15L -> 11L))
    val rnd = new scala.util.Random(96)
    for (trial <- 1 to 12) {
      val nNodes = 2 + rnd.nextInt(28)
      val nEdges = 1 + rnd.nextInt(40)
      val pairs = Seq.fill(nEdges) {
        val a = rnd.nextInt(nNodes).toLong
        var b = rnd.nextInt(nNodes).toLong
        if (a == b) b = (b + 1) % nNodes
        (a, b)
      }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val model = parent.keys.toList.map(x => x -> find(x)).toMap
      val star = Dedup.connectedComponentsStarDetailed(
        pairs.toDF("id_a", "id_b"), "id_a", "id_b", "id")
      assert(star.converged, s"trial $trial did not converge")
      assert(star.components.as[(Long, Long)].collect().toMap == model,
        s"trial $trial: $pairs")
    }
  }

  test("star contraction: round count stays logarithmic on a diameter-63 chain; " +
      "a maxIters cutoff reports the under-merge") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStarDetailed(chain, "id_a", "id_b", "id")
    assert(star.converged)
    // min-label would need 63 rounds (one hop per round); star contraction
    // halves chain structure every alternation — O(log^2 n), well under 10
    assert(star.rounds <= 10, s"star took ${star.rounds} rounds on a 63-chain")
    assert(star.components.as[(Long, Long)].collect().toMap ==
      (0L to 63L).map(_ -> 0L).toMap)
    // a maxIters cutoff mid-contraction still honors the one-row-per-id
    // contract (residual multi-out-edge nodes collapse to min(dst))
    val cut = Dedup.connectedComponentsStarDetailed(chain, "id_a", "id_b", "id",
      maxIters = 1)
    assert(!cut.converged)
    assert(cut.components.where(col("comp") =!= 0L).count() > 0,
      "expected an under-merged label on the far end of the chain")
    val ids = cut.components.select("id").as[Long].collect()
    assert(ids.length == ids.distinct.length && ids.length == 64,
      s"expected 64 unique ids, got ${ids.length} rows")
  }

  test("minhashLshTransitive dedups through intermediates where the single pass cannot") {
    // sliding windows over one token sequence: adjacent docs share >=0.5
    // shingle jaccard, the two ends share ~0.31 — a chain 2 ~ 9 ~ 5 where
    // 5's only DIRECT pair is the larger id 9
    def words(from: Int, until: Int): String = (from until until).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (2L, words(1, 41)), (9L, words(11, 51)), (5L, words(21, 61)),
      (30L, "completely unrelated text about something else entirely here")
    ).toDF("doc_id", "text")
    val singlePass = Dedup.minhashLsh(docs, "text", "doc_id",
      w = 3, bands = 32, rowsPerBand = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val transitive = Dedup.minhashLshTransitive(docs, "text", "doc_id",
      w = 3, bands = 32, rowsPerBand = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(singlePass == Set(2L, 5L, 30L)) // 5 survives: its direct pair 9 is larger
    assert(transitive == Set(2L, 30L))     // component {2,9,5} keeps only its min
  }

  test("minhashNearCorpus flags only cross near-dups with their corpus match") {
    val mk = (n: Int, extra: String) =>
      (0 until 40).map(i => s"tok${(i * 7 + n) % 13} word$i").mkString(" ") + " " + extra
    val corpus = Seq((100L, mk(1, "corpus tail")), (101L, mk(5, "unrelated text entirely")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, mk(1, "batch tail")),         // near-dup of corpus 100
      (2L, "totally different short doc about spark plans and nothing else"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashNearCorpus(batch, corpus, "text", "doc_id",
        w = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L)))
  }

  test("withRowIndex assigns contiguous 0-based ids in total order, any input layout") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(5000)((rnd.nextLong(1000), rnd.nextLong()))
      .distinct.map { case (t, id) => (t, id) }
    val df = rows.toDF("t", "id").repartition(17) // scrambled layout
    val got = RowIndex.withRowIndex(df, "idx", col("t"), col("id"))
      .select("t", "id", "idx").as[(Long, Long, Long)].collect()
    val want = rows.sortBy(r => (r._1, r._2)).zipWithIndex
      .map { case ((t, id), i) => (t, id, i.toLong) }.toSet
    assert(got.length == rows.size)
    assert(got.toSet == want)
  }

  test("surprisal ranks reference-like text below gibberish, prices OOV at unkLogp") {
    val corpus = Seq.tabulate(20)(i => (i.toLong, "the quick brown fox and the lazy dog"))
      .toDF("doc_id", "text")
    val lm = Scoring.unigramLm(corpus, "text")
    val docs = Seq(
      (1L, "the quick brown fox"),          // all in-vocabulary
      (2L, "zxq wvut qqqq"),                // all OOV -> exactly unkLogp
      (3L, "the quick zxq")                 // mixed
    ).toDF("doc_id", "text")
    val got = Scoring.surprisal(docs, lm, "text", "doc_id", unkLogp = 24.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(2L) == 24.0)
    assert(got(1L) < got(3L) && got(3L) < got(2L))
    // hand-check doc 1: corpus has 8 tokens/doc, 'the' twice -> p=1/4, the
    // other three tokens p=1/8 -> mean = (2 + 3 + 3 + 3) / 4 bits
    assert(math.abs(got(1L) - 2.75) < 1e-9)
  }

  test("bigramSurprisal conditions on context, prices unseen bigrams at unkLogp") {
    // corpus bigrams: (a,b) x2, (b,a), (b,c) -> P(b|a)=1, P(a|b)=P(c|b)=1/2
    val corpus = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    val lm = Scoring.bigramLm(corpus, "text")
    val got = Scoring.bigramSurprisal(Seq(
        (1L, "a b c"),     // (a,b): 0 bits, (b,c): 1 bit -> mean 0.5
        (2L, "c a"),       // (c,a) unseen context -> 24
        (3L, "a")          // no bigrams -> 24
      ).toDF("doc_id", "text"), lm, "text", "doc_id", unkLogp = 24.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.5) < 1e-9)
    assert(got(2L) == 24.0)
    assert(got(3L) == 24.0)
  }

  test("redactPii scrubs every category and leaves clean text alone") {
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.io from 192.168.1.1, ssn 123-45-6789, call 650-555-0199"),
      (2L, "perfectly clean prose with numbers 42 and 7 but no pii"),
      (3L, "two mails a@b.co c@d.org and v6-ish 1.2.3.4 8.8.8.8")).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"), TF.redactPii(col("text")).as("c"),
        TF.piiCounts(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getStruct(2)))).toMap
    assert(got(1L)._1 == "mail <EMAIL> from <IP>, ssn <SSN>, call <PHONE>")
    assert(got(1L)._2.getInt(0) == 1 && got(1L)._2.getInt(1) == 1 && got(1L)._2.getInt(2) == 1)
    assert(got(1L)._2.getInt(3) == 1) // the phone is counted, not just scrubbed
    assert(got(2L)._1 == "perfectly clean prose with numbers 42 and 7 but no pii")
    assert(got(3L)._1 == "two mails <EMAIL> <EMAIL> and v6-ish <IP> <IP>")
    assert(got(3L)._2.getInt(0) == 2 && got(3L)._2.getInt(1) == 2)
    // over-long digit runs are NOT phone-shaped: the \b anchors keep a
    // card number / timestamp intact instead of half-eating it
    val long = Seq((4L, "card 4111111111111111 at 20260812120000 ok"))
      .toDF("doc_id", "text")
      .select(TF.redactPii(col("text"))).head().getString(0)
    assert(long == "card 4111111111111111 at 20260812120000 ok")
    // international and paren forms redact WHOLE — \b cannot sit before
    // '+' or '(', so those heads anchor on their literal instead (the
    // leaked "+<PHONE>" form was a real prefix leak)
    val intl = Seq((5L, "call +1 650-555-0199 or +15551234567 or (650) 555-0199 ok"))
      .toDF("doc_id", "text")
      .select(TF.redactPii(col("text"))).head().getString(0)
    assert(intl == "call <PHONE> or <PHONE> or <PHONE> ok")
    // no-plus country-code forms redact whole too (the old single-head
    // alternation dropped this branch — a caught regression)
    val noPlus = Seq((6L, "call 1-800-555-0199 or 15551234567 ok"))
      .toDF("doc_id", "text")
      .select(TF.redactPii(col("text"))).head().getString(0)
    assert(noPlus == "call <PHONE> or <PHONE> ok")
  }

  test("sampling: deterministic, nested across fractions, stable by key") {
    val ids = spark.range(0, 5000).toDF("id")
    def keep(f: Double): Set[Long] =
      Sampling.sampled(ids, col("id"), f).as[Long].collect().toSet
    val s10 = keep(0.1)
    // deterministic: same membership on re-run
    assert(keep(0.1) == s10)
    // nested: a smaller rate is a subset of a larger one (same key)
    val s50 = keep(0.5)
    assert(s10.subsetOf(s50))
    // rate lands near the target (md5 uniformity; 5000 keys, +-3 sigma)
    assert(math.abs(s10.size - 500) < 3 * math.sqrt(5000 * 0.1 * 0.9))
    assert(math.abs(s50.size - 2500) < 3 * math.sqrt(5000 * 0.25))
    // membership is a function of the KEY, not the row: a re-shuffled /
    // re-partitioned frame keeps exactly the same ids
    val reshard = ids.repartition(13)
    assert(Sampling.sampled(reshard, col("id"), 0.1).as[Long].collect().toSet == s10)
  }

  test("quota returns exactly the k smallest uniforms per stratum, incl. tight oversample") {
    val rows = spark.range(0, 3000).select(col("id"),
      when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b")
        .otherwise("c").as("s"))
    // ground truth: k smallest uniforms per stratum, straight from the
    // uniform column itself
    val us = rows.withColumn("u", Sampling.uniformCol(col("id")))
      .select("id", "s", "u").as[(Long, String, Double)].collect()
    def model(k: Int): Set[Long] = us.groupBy(_._2).values.flatMap(
      _.sortBy(r => (r._3, r._1.toString)).take(k).map(_._1)).toSet
    for ((k, over) <- Seq((40, 4.0), (900, 4.0), (1200, 4.0), (500, 1.05))) {
      val got = Sampling.quota(rows, col("s"), col("id"), k, over)
        .select("id").as[Long].collect()
      assert(got.length == got.toSet.size, s"duplicates at k=$k")
      assert(got.toSet == model(k), s"k=$k oversample=$over")
    }
    // n < k: stratum kept whole
    val small = Sampling.quota(rows.where(col("id") < 10), col("s"), col("id"), 100)
      .select("id").as[Long].collect().toSet
    assert(small == (0L until 10L).toSet)
  }

  test("splitCol partitions every row into exactly one split at ~weights") {
    val ids = spark.range(0, 6000).toDF("id")
    val got = ids.select(col("id"),
        Sampling.splitCol(col("id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .as("split"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum == 6000)
    assert(got.keySet == Set("train", "val", "test"))
    assert(math.abs(got("train") - 4800) < 3 * math.sqrt(6000 * 0.8 * 0.2))
    assert(math.abs(got("val") - 600) < 3 * math.sqrt(6000 * 0.1 * 0.9))
    // split assignment agrees with sampled(): the first 80% of the uniform
    // range IS the train split (one shared definition of membership)
    val trainIds = ids.select(col("id"))
      .where(Sampling.uniformCol(col("id")) < 0.8).as[Long].collect().toSet
    val labeled = ids.select(col("id"), Sampling.splitCol(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .where(col("split") === "train").select(col("id")).as[Long].collect().toSet
    assert(labeled == trainIds)
  }

  test("stratified keeps per-stratum rates and ignores unlisted strata by default") {
    val rows = spark.range(0, 3000).select(col("id"),
      when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b")
        .otherwise("c").as("s"))
    val got = Sampling.stratified(rows, col("s"), col("id"),
        Map("a" -> 0.5, "b" -> 0.05), default = 0.0)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("c"))
    assert(math.abs(got("a") - 500) < 3 * math.sqrt(1000 * 0.25))
    assert(math.abs(got.getOrElse("b", 0L) - 50) < 3 * math.sqrt(1000 * 0.05 * 0.95))
  }

  test("mixture hits target shares, keeps starved strata whole, drops unlisted") {
    // a: 2000 rows at weight .5 of 500 -> rate .125; b: 900 at .3 -> 150/900;
    // c: 100 at .2 -> target 100 >= n, rate caps at 1 (kept whole);
    // d: unlisted -> dropped
    val rows = spark.range(0, 3100).select(col("id"),
      when(col("id") < 2000, "a").when(col("id") < 2900, "b")
        .when(col("id") < 3000, "c").otherwise("d").as("s"))
    val got = Sampling.mixture(rows, col("s"), col("id"),
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), totalRows = 500)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("d"))
    assert(got("c") == 100L) // starved stratum kept in full, exactly
    assert(math.abs(got("a") - 250) < 3 * math.sqrt(2000 * 0.125 * 0.875))
    assert(math.abs(got("b") - 150) < 3 * math.sqrt(900 * (150.0 / 900) * (750.0 / 900)))
    // membership is the same deterministic uniform as sampled(): stratum-a
    // survivors are exactly the keys under the derived rate
    val aIds = Sampling.mixture(rows, col("s"), col("id"),
        Map("a" -> 0.5), totalRows = 500)
      .select(col("id")).as[Long].collect().toSet
    val expect = rows.where(col("s") === "a")
      .where(Sampling.uniformCol(col("id")) < 250.0 / 2000)
      .select(col("id")).as[Long].collect().toSet
    assert(aIds == expect)
  }

  test("mixtureByTokens: targets hit within one doc, scarce domain repeats " +
      "whole epochs, cap binds, membership is the hash prefix") {
    // a: plentiful (truncated); b: scarce (upsampled ~2.5 epochs);
    // c: tiny, cap binds (3 full epochs < target); d: unlisted -> dropped
    val rows = spark.range(0, 260).select(col("id"),
      when(col("id") < 200, "a").when(col("id") < 220, "b")
        .when(col("id") < 225, "c").otherwise("d").as("s"),
      (col("id") % 7 + 3).as("tok"))
    def run(budget: Long, maxRepeat: Int) = Sampling.mixtureByTokens(
      rows, col("s"), col("id"), col("tok"),
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), budget, maxRepeat)
    val got = run(1000, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(!got.exists(_._2 == "d"))
    val model = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val u = (id: Long) => {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 4294967296.0
    }
    def modelSel(budget: Long, maxRepeat: Int) = {
      val byDom = model.filter(t => Set("a", "b", "c")(t._2))
        .groupBy(_._2).map { case (d, rs) =>
          d -> rs.sortBy(t => (u(t._1), t._1.toString))
        }
      val sumW = 1.0
      val w = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
      byDom.flatMap { case (d, rs) =>
        val target = budget.toDouble * w(d) / sumW
        val tot = rs.map(_._3).sum
        for {
          e <- 0 until maxRepeat
          (r, ex) <- rs.zip(rs.scanLeft(0L)(_ + _._3).init)
          if e.toDouble * tot + ex < target
        } yield (r._1, d, r._3, e)
      }.toSet
    }
    assert(got.toSet == modelSel(1000, 3), "spark != scanLeft model")
    // per-domain token accounting: target hit within one doc, or capped
    // at exactly maxRepeat full epochs
    val perDom = got.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val totals = model.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val maxTok = 9L
    assert(perDom("a") >= 500 - maxTok && perDom("a") < 500 + maxTok)
    assert(perDom("b") >= 300 - maxTok && perDom("b") < 300 + maxTok)
    assert(got.filter(_._2 == "b").map(_._4).toSet == Set(0, 1, 2),
      "b must span full epochs 0,1 plus a partial epoch 2")
    // c: target 200 > 3 * T_c -> the cap binds: exactly 3 FULL epochs
    assert(totals("c") * 3 < 200, "fixture must make the cap bind")
    assert(perDom("c") == totals("c") * 3)
    assert(got.filter(_._2 == "c").map(_._4).toSet == Set(0, 1, 2))
    // monotone in budget: raising it only adds (doc, epoch) pairs
    val small = run(400, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(small.subsetOf(got.toSet))
    // deterministic across runs
    val again = run(1000, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(again == got.toSet)
  }

  test("packSequences matches the scanLeft model, any input layout") {
    val tokens = Seq.tabulate(200)(i => (i.toLong, (i * 37 % 90 + 1).toLong))
    // model: exclusive prefix sum in id order -> (seq, offset)
    val starts = tokens.sortBy(_._1).scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (id, n)) => (id, acc + n)
    }.tail.map { case (id, endSum) => id -> endSum }.toMap
    val expect = tokens.map { case (id, n) =>
      val start = starts(id) - n
      (id, start / 7, start % 7)
    }.toSet
    for (parts <- Seq(1, 5, 32)) {
      val df = tokens.toDF("id", "n").repartition(parts, col("n"))
      val got = Packing.packSequences(df, col("n"), 7L, Seq(col("id")))
        .select("id", "seq_id", "seq_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"parts=$parts")
    }
  }

  test("packDocwise: next-fit model match, docs never split, efficiency >= 0.5, any layout") {
    val seqLen = 64L; val budget = 256L
    val tokens = Seq.tabulate(300)(i => (i.toLong, (i * 37 % 90 + 1).toLong))
    // sequential model: prefix-sum grouping, per-group next-fit fold,
    // global renumbering by per-group sequence counts — the operator's
    // documented semantics, executed in plain Scala
    val ordered = tokens.sortBy(_._1)
    val prefixes = ordered.scanLeft(0L)(_ + _._2)
    val grouped = ordered.zip(prefixes)
      .map { case ((id, n), s) => (s / budget, s, id, n) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    var base = 0L
    grouped.foreach { case (_, ds) =>
      var cur = 0L; var fill = 0L; var maxSeq = 0L
      ds.sortBy(d => (d._2, d._3)).foreach { case (_, _, id, tok) =>
        if (tok > seqLen) {
          val sq = if (fill > 0) cur + 1 else cur
          expected(id) = (base + sq, 0L); cur = sq + 1; fill = 0L
          maxSeq = math.max(maxSeq, sq)
        } else if (fill + tok <= seqLen) {
          expected(id) = (base + cur, fill); fill += tok
          maxSeq = math.max(maxSeq, cur)
        } else {
          cur += 1; fill = tok; expected(id) = (base + cur, 0L)
          maxSeq = math.max(maxSeq, cur)
        }
      }
      base += maxSeq + 1
    }
    val byId = tokens.toMap
    for (parts <- Seq(1, 7, 32)) {
      val df = tokens.toDF("id", "n").repartition(parts, col("n"))
      val got = Packing.packDocwise(df, "id", col("n"), seqLen, Seq(col("id")), budget)
        .select("id", "seq_id", "seq_offset").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected.toMap, s"parts=$parts")
      // the defining property: no doc that fits a sequence ever straddles one
      got.foreach { case (id, (_, off)) =>
        if (byId(id) <= seqLen) assert(off + byId(id) <= seqLen, s"doc $id split")
      }
      // packing efficiency (oversized docs occupy their own sequence and
      // only help the ratio): waste is bounded by next-fit + one partial
      // sequence per group
      val nSeqs = got.values.map(_._1).toSet.size
      val eff = tokens.map(_._2).sum.toDouble / (nSeqs * seqLen)
      assert(eff >= 0.5, s"efficiency $eff")
    }
  }

  test("sharedNgramStats counts cross-doc trigram overlap, full-dup doc at frac 1") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),          // exact dup of 1
      (3L, "unrelated words about catalyst planning"),  // disjoint
      (4L, "zeta alpha beta gamma eta"))                // shares 1 trigram
      .toDF("doc_id", "text")
    val got = Dedup.sharedNgramStats(docs, "text", "doc_id", n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!got.contains(3L))
    assert(got(1L) == ((3L, 3L)) && got(2L) == ((3L, 3L)))
    assert(got(4L) == ((1L, 3L))) // only "alpha beta gamma" is shared
    // minDocs = 3: no gram reaches 3 docs except "alpha beta gamma"
    val strict = Dedup.sharedNgramStats(docs, "text", "doc_id", n = 3, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strict == Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
  }

  test("removeBoilerplateLines drops corpus-frequent lines only, exact roundtrip") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nreal content one\nfooter"),
      (2L, "COOKIE BANNER\nreal content two\nfooter"),
      (3L, "COOKIE BANNER\nunique text here"),
      (4L, "all alone\nno shared lines"),
      (5L, "COOKIE BANNER")) // every line boilerplate -> ""
      .toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateLines(docs, "text", "doc_id", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "real content one\nfooter")
    assert(got(2L) == "real content two\nfooter")
    assert(got(3L) == "unique text here")
    assert(got(4L) == "all alone\nno shared lines") // untouched, byte-exact
    assert(got(5L) == "")                           // kept as a row, emptied
    // at minDocs = 2 the footer (2 docs) goes too
    val tight = Dedup.removeBoilerplateLines(docs, "text", "doc_id", minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tight(1L) == "real content one")
    assert(tight(5L) == "")
  }

  test("topFractionByScore: ceil(frac*n) rows per group, best first, id tie-break") {
    // group a: n=5 -> ceil(0.3*5)=2 kept; group b: n=3 -> ceil(0.3*3)=1;
    // group c: n=1 -> 1 (a singleton always survives)
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 50L), (3L, "a", 30L), (4L, "a", 50L), (5L, "a", 20L),
      (6L, "b", 5L), (7L, "b", 9L), (8L, "b", 7L),
      (9L, "c", 1L)).toDF("doc_id", "grp", "score")
    val got = Scoring.topFractionByScore(docs, col("grp"), col("score"),
      col("doc_id"), 0.3)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    // a: scores 50(id2),50(id4) -> tie to smaller id first
    assert(got == Map(2L -> 1, 4L -> 2, 7L -> 1, 9L -> 1))
    // frac = 1.0 keeps everything
    assert(Scoring.topFractionByScore(docs, col("grp"), col("score"),
      col("doc_id"), 1.0).count() == 9L)
    // rank column is dense per group starting at 1
    val ranks = Scoring.topFractionByScore(docs, col("grp"), col("score"),
      col("doc_id"), 0.5).collect()
      .groupBy(_.getString(1)).map { case (g, rs) => g -> rs.map(_.getInt(3)).sorted.toSeq }
    assert(ranks("a") == Seq(1, 2, 3) && ranks("b") == Seq(1, 2) && ranks("c") == Seq(1))
  }

  test("topFractionByScoreSalted == plain form, any salt count, ranks included") {
    val docs = Seq.tabulate(200) { i =>
      (i.toLong, if (i % 3 == 0) "big" else s"g${i % 5}", (i * 37 % 23).toLong)
    }.toDF("doc_id", "grp", "score")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "grp", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val plain = canon(Scoring.topFractionByScore(docs, col("grp"), col("score"),
      col("doc_id"), 0.3))
    for (salts <- Seq(1, 4, 16)) {
      val salted = canon(Scoring.topFractionByScoreSalted(docs, col("grp"),
        col("score"), col("doc_id"), 0.3, salts = salts))
      assert(salted == plain, s"salts=$salts")
    }
  }

  test("topFractionByScoreSalted: adversarial winner-packed salt triggers the exact rescue") {
    // group "x": 40 rows; all top scores land in salt 0 under id % 4 —
    // the salt-0 candidate cap is hit with better rows left behind it, so
    // skipping the rescue would return wrong winners. Equality with the
    // plain form proves the shortfall path fired and repaired the cut.
    val rows = Seq.tabulate(40) { i =>
      val salt0 = i % 4 == 0
      (i.toLong, "x", if (salt0) 1000L + i else i.toLong)
    }
    val docs = rows.toDF("doc_id", "grp", "score")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val plain = canon(Scoring.topFractionByScore(docs, col("grp"), col("score"),
      col("doc_id"), 0.2))
    // K = 8 winners, all in salt 0 (10 rows there); cap = ceil(1.25*8/4)=3
    // per salt -> salt 0 contributes its full cap with 7 rows behind it
    val salted = canon(Scoring.topFractionByScoreSalted(docs, col("grp"),
      col("score"), col("doc_id"), 0.2, salts = 4, oversample = 1.25,
      saltOf = Some(c => pmod(c, lit(4)))))
    assert(salted == plain)
  }
}
