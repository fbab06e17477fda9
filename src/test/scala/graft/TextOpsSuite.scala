package graft

import graft.queries.Registry
import org.apache.spark.sql.functions._

/** Checks for the text-pipeline operators whose registered forms are
  * self-checks (oracle = literal TRUE), so the real bound needs a suite
  * assertion on the raw numbers.
  */
class TextOpsSuite extends SparkTestBase {

  test("q69 realized stratum fractions sit within the σ-scaled bound") {
    val rows = Registry.byName("q69_stratified_sample").q(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"stratum ${r.getString(0)}: frac_ok is false")
    }
    // recompute the raw deviations: each stratum's realized fraction must
    // sit within 4.5 binomial standard errors of its target — the same
    // σ-scaled bound the registered query emits, asserted here on the
    // numbers so a bound loosened in the query can't pass silently
    val fractions = Map(
      "en" -> 0.5, "de" -> 0.4, "es" -> 0.3, "fr" -> 0.2, "zh" -> 0.1)
    val docs = Tables.documents(spark, sf)
    val sampled = docs.stat.sampleBy("lang", fractions, 42L)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals.keySet == fractions.keySet, s"unexpected strata: ${totals.keySet}")
    totals.foreach { case (lang, n) =>
      val f = fractions(lang)
      val dev = math.abs(sampled.getOrElse(lang, 0L).toDouble / n - f)
      val sigma = math.sqrt(f * (1 - f) / n)
      assert(dev <= 4.5 * sigma,
        f"$lang: |realized-target|=$dev%.4f > 4.5σ=${4.5 * sigma}%.4f (n=$n)")
    }
  }

  test("q83 BPE: two 6-round runs agree, N=16 trains in bounded time") {
    import graft.operators.TextOps
    // per-round checkpoints cut the plan, never change the result
    val off = TextOps.bpeVocab(spark, sf, rounds = 6).collect().map(_.toSeq).toSeq
    val on = TextOps.bpeVocab(spark, sf, rounds = 6).collect().map(_.toSeq).toSeq
    assert(on == off, "two 6-round BPE trainings diverged")
    // linear-lineage training at tokenizer-ish depth: each round plans
    // against the materialized previous corpus, so N=16 stays bounded
    // (the pure plan re-embeds all prior rounds per round — O(N²) corpus
    // recomputations — and its planning alone blows up at this depth)
    val t0 = System.nanoTime()
    val deep = TextOps.bpeVocab(spark, sf, rounds = 16).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(deep.length == 16)
    // every merge round shrinks (or holds) the corpus token count
    val tokCounts = deep.map(_.getLong(4)).toSeq
    assert(tokCounts == tokCounts.sorted.reverse, s"toks_after not non-increasing: $tokCounts")
    assert(sec < 240.0, f"N=16 checkpointed training took $sec%.1f s")
  }

  test("q96 two-phase prefix scan equals the naive single-window packing") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // independent reference: the straightforward global-order running sum
    // (empty partitionBy — the single-partition form q96 exists to avoid)
    val L = 2048L
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") > 0)
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = docs.withColumn("cum", sum(col("n")).over(w))
      .select((col("cum") - col("n")).as("off0"), col("cum").as("off1"))
      .select(col("off0"), col("off1"),
        explode(sequence(expr(s"off0 div $L"), expr(s"(off1 - 1) div $L"))).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr(s"off0 div $L") === col("bin"), 1L).otherwise(0L)).as("n_started"),
        sum(least(col("off1"), (col("bin") + 1) * L) -
          greatest(col("off0"), col("bin") * L)).as("n_tokens"))
      .orderBy(col("bin"))
      .collect().map(_.toSeq).toSeq
    val twoPhase = Registry.byName("q96_sequence_packing").q(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(twoPhase == offs, "two-phase scan diverged from the single-window form")
    // every bin but the last is filled to exactly L
    val fills = twoPhase.map(_(3).asInstanceOf[Long])
    assert(fills.dropRight(1).forall(_ == L), s"non-tail bin underfilled: $fills")
  }

  test("unpartitioned-window inventory: pinned global-WindowExec count per packing plan") {
    // The packing plans deliberately carry at most ONE WindowExec with no
    // partition spec: the block-prefix cumsum over the ~n_docs/256 block
    // table (q96, q107's packing tail) — bounded by construction,
    // documented at TextOps' packing section, and the source of the
    // (false-alarm) `WindowExec: No Partition Defined` bench warnings. This
    // pin turns the inventory into a build invariant: an EXTRA global
    // window appearing in any of these plans is a real corpus-sized
    // single-partition sort hiding in that warning noise — it must fail
    // here, not ship. (q121 keys EVERY window, block-prefix included, by
    // split — its pinned global-window count is ZERO.)
    // q134/q135's one global window runs over the per-SCORE table (bounded
    // by the integer score domain, not the corpus) — same contract.
    Seq("q96_sequence_packing" -> 1, "q107_curation_pipeline" -> 1,
        "q121_split_packing" -> 0, "q134_token_budget_select" -> 1,
        "q135_quality_calibration" -> 1)
      .foreach { case (name, expected) =>
        val df = Registry.byName(name).q(spark, sf)
        df.collect()
        val globals = unpartitionedWindows(df)
        assert(globals.size == expected,
          s"$name: expected $expected unpartitioned WindowExec node(s), " +
            s"found ${globals.size}")
      }
    // the counter itself must SEE a second global window when one exists —
    // the deliberate-regression probe proving the pin can fail
    val twoGlobals = Tables.documents(spark, sf)
      .withColumn("c1", sum(lit(1L)).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
      .groupBy(col("c1")).agg(count(lit(1)).as("n"))
      .withColumn("c2", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("c1"))))
    twoGlobals.collect()
    assert(unpartitionedWindows(twoGlobals).size == 2,
      "probe: counter failed to see two global windows")
  }

  test("q145 BM25: shape, self-exclusion, non-increasing scores") {
    val rows = Registry.byName("q145_bm25_topk").q(spark, sf).collect()
    assert(rows.length == 40, s"expected 8 queries x 5, got ${rows.length}")
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to 5L), s"q$qid ranks broken")
      // a query doc must never retrieve itself
      assert(byRank.forall(_.getLong(2) != qid), s"q$qid retrieved itself")
      val scores = byRank.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse, s"q$qid scores not ranked: $scores")
      assert(scores.forall(_ > 0), s"q$qid non-positive BM25 score")
    }
  }

  test("q146 RRF fusion: fused docs drawn from the pools; no corpus re-scan") {
    import graft.operators.TextOps
    // reconstruct the two top-20 pools with the registered query's own
    // helpers — a fused doc outside both pools means the fusion stage is
    // inventing rows
    val parts = TextOps.retrievalParts(spark, sf).localCheckpoint()
    def poolSet(c: org.apache.spark.sql.Column): Set[(Long, Long)] =
      TextOps.topPool(TextOps.scoreMicros(parts, c), 20)
        .select(col("q_id"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pools = poolSet(TextOps.bm25Contrib) ++ poolSet(TextOps.tfidfContrib)
    val fused = Registry.byName("q146_rrf_fusion").q(spark, sf)
    val frows = fused.collect()
    assert(frows.length == 40, s"expected 8 queries x 5, got ${frows.length}")
    frows.foreach { r =>
      assert(pools.contains((r.getLong(0), r.getLong(2))),
        s"fused (${r.getLong(0)}, ${r.getLong(2)}) is in neither scorer's pool")
    }
    // all corpus-sized work (tokenize scan, tf/df/dl aggregates) runs ONCE
    // behind the localCheckpoint barrier: the registered query's executed
    // plan must carry zero parquet scans — one reappearing means the two
    // scorers are each re-planning the scaffold
    val physical = fused.queryExecution.executedPlan.toString
    assert(!physical.contains("Scan parquet"),
      s"q146 re-plans the scoring scaffold past its checkpoint:\n$physical")
  }

  test("q162 familiarity: counts tie to tokenization, flag matches threshold") {
    val rows = Registry.byName("q162_lm_familiarity").q(spark, sf).collect()
    assert(rows.nonEmpty)
    // direct recompute of the corpus bigram model (test-only collect)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val bigrams = docs.values.flatMap(t => t.zip(t.drop(1))).toSeq
    val model = bigrams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val thresh = bigrams.size.toDouble / model.size.toDouble
    rows.foreach { r =>
      val (id, nBg, sumCnt) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val toks = docs(id)
      assert(nBg == math.max(toks.size - 1, 0), s"doc $id: n_bg != tokens-1")
      val expSum = toks.zip(toks.drop(1)).map(model).sum
      assert(sumCnt == expSum, s"doc $id: sum_cnt mismatch")
      val expFam = nBg > 0 && sumCnt.toDouble / nBg.toDouble >= thresh
      assert(r.getBoolean(4) == expFam, s"doc $id: familiar flag mismatch")
    }
    // both classes populated on the fixture — the threshold separates, it
    // doesn't degenerate to all-true/all-false
    val fam = rows.count(_.getBoolean(4))
    assert(fam > 0 && fam < rows.length, s"degenerate familiar split: $fam/${rows.length}")
  }

  test("q166 posting gaps: varint accounting matches a direct encode") {
    val rows = Registry.byName("q166_posting_gaps").q(spark, sf).collect()
    assert(rows.nonEmpty)
    def varint(x: Long): Long =
      if (x < 128L) 1L else if (x < 16384L) 2L
      else if (x < 2097152L) 3L else if (x < 268435456L) 4L else 5L
    val postings = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).distinct.map(_ -> r.getLong(0)))
      .groupBy(_._1).map { case (t, v) => t -> v.map(_._2).sorted.toSeq }
    assert(rows.length == postings.size, "one output row per distinct term")
    rows.foreach { r =>
      val ids = postings(r.getString(0))
      val gaps = (ids.head + 1) +: ids.zip(ids.drop(1)).map { case (a, b) => b - a }
      assert(r.getLong(1) == ids.size.toLong)
      assert(r.getLong(2) == ids.last)
      assert(r.getLong(3) == gaps.map(varint).sum, s"term ${r.getString(0)}: bytes")
      assert(r.getLong(4) == ids.size.toLong * 8)
      assert(r.getDouble(5) == (ids.size.toLong * 8).toDouble / gaps.map(varint).sum.toDouble)
    }
  }

  test("q175 PMI: ratios tie to direct counts; top-20 is heap-based") {
    val df = Registry.byName("q175_pmi_collocations").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 20)
    val texts = Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0).split(" ", -1).toSeq)
    val uni = texts.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val n = uni.values.sum
    val bi = texts.flatMap(t => t.zip(t.drop(1))).groupBy(identity)
      .map { case (p, o) => p -> o.size.toLong }.filter(_._2 >= 5)
    val expected = bi.toSeq.map { case ((a, b), cab) =>
      (s"$a $b", cab, uni(a), uni(b),
        cab.toDouble * n.toDouble / (uni(a).toDouble * uni(b).toDouble))
    }.sortBy { case (bg, _, _, _, r) => (-r, bg) }.take(20)
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSeq == expected,
      "PMI top-20 diverges from the direct computation")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "q175 top-20 plans a global sort")
  }

  test("q184 phrase search: positional join reproduces the direct text sweep") {
    val df = Registry.byName("q184_phrase_search").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1)
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val bigrams = texts.flatMap { case (id, t) => t.zip(t.drop(1)).map(p => (id, p)) }
    val probe = bigrams.groupBy(_._2).toSeq
      .map { case (p, o) => (p, o.size) }
      .sortBy { case ((a, b), n) => (-n, a, b) }.head._1
    val occ = bigrams.filter(_._2 == probe)
    assert(rows.head.getString(0) == s"${probe._1} ${probe._2}")
    assert(rows.head.getLong(1) == occ.map(_._1).distinct.length.toLong, "n_docs")
    assert(rows.head.getLong(2) == occ.length.toLong, "n_occurrences")
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q188: normalize_text idempotence holds; the rule collapses the stack") {
    // the kernel-level property the optimizer rule's soundness rests on —
    // adversarial inputs: decomposed accents, Turkish İ, stacked whitespace,
    // already-clean ASCII (the fast path), empty string
    val s = spark
    import s.implicits._
    val inputs = Seq(
      "CAFÉ  x", "İstanbul", " a \t\n b  ", "already clean", "",
      "ß GROSS", "ÅNGSTRÖM Å")
    val once = inputs.toDF("t")
      .selectExpr("normalize_text(t) AS n").as[String].collect()
    val twice = inputs.toDF("t")
      .selectExpr("normalize_text(normalize_text(t)) AS n").as[String].collect()
    // note: the double form ALSO exercises the rule; equality of results is
    // the end-to-end soundness check either way
    assert(once.toSeq == twice.toSeq, "normalize_text is not idempotent")
    // the optimized plan of the registered query carries exactly ONE
    // normalize_text Kernel — the injected rule deleted the inner defensive pass
    val df = Registry.byName("q188_normalize_collapse").q(spark, sf)
    val n = df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect {
        case e: graft.functions.Kernel if e.name == "normalize_text" => e
      }.size).sum
    }.sum
    assert(n == 1, s"expected 1 normalize_text Kernel after the collapse rule, found $n")
    // and a triple stack collapses in the same single optimizer visit
    // (over the parquet table — a LocalRelation input would be folded away
    // whole by ConvertToLocalRelation before this count could see it)
    val n3 = Tables.documents(spark, sf)
      .selectExpr("normalize_text(normalize_text(normalize_text(text))) AS n")
      .queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case e: graft.functions.Kernel if e.name == "normalize_text" => e
        }.size).sum
      }.sum
    assert(n3 == 1, s"triple stack left $n3 normalize_text Kernel nodes")
  }

  test("q194 classifier: scores equal an independent replay; one-exchange map pass") {
    import org.apache.spark.sql.functions._
    val df = Registry.byName("q194_quality_classifier").q(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // independent replay of the whole model in plain Scala: tokenize,
    // hash by the 31-polynomial fold, weight by the Knuth stand-in, sum
    def hash(f: String): Long =
      f.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 4096)
    def weight(f: String): Long = (hash(f) * 2654435761L) % 2003L - 1001L
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expected = docs.groupBy(_._1).map { case (lang, ds) =>
      val perDoc = ds.map { case (_, text) =>
        val u = text.toLowerCase.split(" ").filter(_.matches("[a-z0-9]+"))
        val feats = u.toSeq ++ u.toSeq.zip(u.toSeq.drop(1)).map { case (a, b) => s"$a $b" }
        (feats.size.toLong, feats.map(weight).sum)
      }
      lang -> (ds.length.toLong, perDoc.map(_._1).sum, perDoc.map(_._2).sum,
        perDoc.count(_._2 > 0L).toLong)
    }
    val got = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected, "classifier diverges from the direct replay")
    // THE SHAPE CLAIM: inference is one map pass — the executed plan has
    // exactly ONE hash exchange (the ≤n_langs-row rollup; the ORDER BY's
    // range exchange over the 5-row result is ignored), no join, no window
    val hashEx = shuffleExchanges(df).count(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hashEx == 1, s"q194 is not a single-exchange map pass: $hashEx hash shuffles")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "q194 must ship the model to the data, not join")
  }

  test("q252 Misra-Gries: guarantee, undercount bound, and exact output") {
    import graft.functions.{MisraGries, MisraGriesAgg}
    val toks = graft.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val exact = toks.groupBy(col("token")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val mg = toks.select(col("token"))
      .as[String](org.apache.spark.sql.Encoders.STRING)
      .select(new MisraGriesAgg().toColumn).head()
    assert(mg.n == n, "sketch carries the exact stream length")
    assert(mg.counts.size <= MisraGries.K)
    // MG guarantee: every token with freq > n/(K+1) is a candidate, and
    // every candidate's estimate undercounts by at most n/(K+1)
    val trueHH = exact.filter { case (_, f) => f * 64 > n }.keySet
    assert(trueHH.subsetOf(mg.counts.keySet),
      s"missing HH: ${trueHH.diff(mg.counts.keySet)}")
    for ((t, est) <- mg.counts) {
      val f = exact.getOrElse(t, 0L)
      assert(est <= f, s"$t estimate must never overcount")
      assert(f - est <= n / (MisraGries.K + 1), s"$t undercount bound")
    }
    // the registered output is the exact verified HH set
    val rows = graft.queries.Registry.byName("q252_heavy_hitters")
      .q(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == trueHH)
    for (r <- rows) assert(r.getLong(1) == exact(r.getString(0)))
  }
}
