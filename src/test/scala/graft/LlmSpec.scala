package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{LlmText, LlmVector}

/** Self-tests for the LLM-pipeline operators (SURVEY.md §2-K) —
  * properties beyond what the DuckDB oracle covers: recall of the LSH
  * candidate generation against exact scoring, agreement of the custom
  * Aggregator with its declarative twin, determinism of the stubbed
  * multimodal decode. Runs at sf0.001. */
class LlmSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("minhash LSH candidates reach every high-Jaccard pair (recall=1 here)") {
    // Exact all-pairs shingle Jaccard ≥ 0.5 (ground truth, O(n²) — test
    // scale only) must be a subset of the LSH-candidate-derived pairs.
    val got = LlmText.defs("llm_dedup_ngram_jaccard")(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "text", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        """CASE WHEN size(toks) >= 3 THEN
             array_distinct(transform(sequence(1, size(toks) - 2),
               i -> concat_ws(' ', element_at(toks, i),
                    element_at(toks, i+1), element_at(toks, i+2))))
           ELSE array(text) END AS sh""")
    val truth = docs.as("a").join(docs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
        """size(array_intersect(a.sh, b.sh)) /
           (size(a.sh) + size(b.sh) - size(array_intersect(a.sh, b.sh))) AS j""")
      .where(col("j") >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain planted near-dups")
    assert(truth.subsetOf(got),
      s"LSH missed ${(truth -- got).size} of ${truth.size} true pairs")
  }

  test("simhash is a pure function of the token SET (order-invariant)") {
    val fp = LlmText.defs("llm_dedup_simhash")(spark, sfDir).cache()
    assert(fp.filter(length(col("simhash")) =!= 64).count() === 0)
    // Recompute on a copy whose token ORDER is reversed: the distinct
    // token set is unchanged, so fingerprints must match exactly.
    val permDir = graft.etl.Fixtures.tempDir("graft_simhash_perm")
    Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id",
        "concat_ws(' ', reverse(split(text, ' '))) AS text",
        "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$permDir/documents.parquet")
    val again = LlmText.defs("llm_dedup_simhash")(spark, permDir)
    assert(fp.exceptAll(again).isEmpty && again.exceptAll(fp).isEmpty)
    assert(fp.count() === again.count())
  }

  test("custom Aggregator vector mean matches the declarative decimal plan") {
    // both keys serialize the mean vector as a CSV of 1e-8-scaled
    // bigints; the scaled-long UDAF is order-independent, so the
    // serialized strings must match EXACTLY (not just within tolerance)
    val exact = LlmVector.defs("llm_vector_mean")(spark, sfDir)
      .select("label", "mean_vec").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val udafRes = LlmVector.defs("agg_custom_vector_mean")(spark, sfDir)
      .select("label", "mean_vec").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(exact.keySet === udafRes.keySet)
    for ((label, ev) <- exact) {
      assert(ev.nonEmpty && ev.split(",").length === 64)
      assert(ev === udafRes(label), s"label=$label serialized means differ")
    }
  }

  test("ANN-LSH candidates score identically to direct cosine") {
    val ann = LlmVector.defs("llm_ann_lsh")(spark, sfDir).cache()
    assert(ann.count() > 0)
    // cosine bounds
    assert(ann.filter(abs(col("cosine")) > 1.0000001).count() === 0)
    // re-derive each candidate's cosine from the raw table and compare
    val e = Tables.t(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "embedding",
        """sqrt(aggregate(zip_with(embedding, embedding,
             (x,y) -> cast(x as double)*cast(y as double)),
             cast(0 as double), (a,v) -> a+v)) AS nrm""")
    val re = ann.join(e.selectExpr("vec_id AS vec_a", "embedding AS ea", "nrm AS na"), "vec_a")
      .join(e.selectExpr("vec_id AS vec_b", "embedding AS eb", "nrm AS nb"), "vec_b")
      .selectExpr("cosine",
        """aggregate(zip_with(ea, eb, (x,y) -> cast(x as double)*cast(y as double)),
             cast(0 as double), (a,v) -> a+v) / (na*nb) AS direct""")
    assert(re.filter(abs(col("cosine") - col("direct")) > 1e-12).count() === 0)
  }

  test("ANN-LSH achieves perfect recall on exact duplicates") {
    // An identical vector always lands in the same bucket in every
    // table (cos=1 ⇒ all plane signs agree): duplicate the corpus with
    // shifted ids and require every self-pair among candidates.
    import spark.implicits._
    // distinct embeddings only: exactly-identical corpus vectors would
    // add extra cos=1.0 pairs that could crowd self-pairs out of the
    // query's global top-50 cap
    val e = Tables.t(spark, sfDir, "embeddings")
      .dropDuplicates("embedding").limit(20).cache()
    val n = e.count()
    val dup = e.withColumn("vec_id", col("vec_id") + 1000000)
    val dir = graft.etl.Fixtures.tempDir("graft_ann_dup")
    e.unionByName(dup).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = LlmVector.defs("llm_ann_lsh")(spark, dir)
    val selfPairs = out
      .filter(col("vec_b") === col("vec_a") + 1000000)
      .count()
    assert(selfPairs === n,
      s"expected all $n duplicated vectors as top candidates, got $selfPairs")
  }

  test("bucketed embed near-dup is a sound subset with full recall on duplicates") {
    import spark.implicits._
    // soundness: every bucketed pair is a true >= 0.4 pair with the
    // identical cosine (the exact baseline is the ground truth)
    val lsh = LlmVector.defs("llm_embed_neardup_lsh")(spark, sfDir)
      .withColumnRenamed("cosine", "c_lsh")
    val exact = LlmVector.defs("llm_embed_neardup")(spark, sfDir)
    val joined = lsh.join(exact, Seq("vec_a", "vec_b"), "left").cache()
    assert(joined.filter(col("cosine").isNull).count() === 0,
      "bucketed path produced a pair the exact baseline does not contain")
    assert(joined.filter(abs(col("cosine") - col("c_lsh")) > 1e-12).count() === 0)
    // recall on TRUE duplicates (cos = 1): identical vectors share every
    // bucket, so each planted duplicate pair MUST be found — this corpus
    // has no high-cosine pairs (max ~0.51, where 8-bit buckets rarely
    // collide by design), so plant some
    val e = Tables.t(spark, sfDir, "embeddings")
      .dropDuplicates("embedding").limit(20).cache()
    val n = e.count()
    val dir = graft.etl.Fixtures.tempDir("graft_neardup_dup")
    e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val found = LlmVector.defs("llm_embed_neardup_lsh")(spark, dir)
      .filter(col("vec_b") === col("vec_a") + 1000000).count()
    assert(found === n, s"expected all $n duplicate pairs, got $found")
  }

  test("cluster dedup merges transitive near-dup chains (a~b~c, a!~c)") {
    import spark.implicits._
    // three docs on a chain: A~B and B~C are near-dups (3 words
    // changed each, jaccard ≈ 0.7) but A and C differ at 6 positions
    // (jaccard < 0.5) — pairwise dedup alone would NOT link A to C;
    // only the connected component collapses all three. Doc 10 is
    // unrelated and must stay its own singleton cluster.
    val base = (0 until 30).map(i => s"w$i")
    def swap(ws: Seq[String], at: Range, tag: String) =
      ws.zipWithIndex.map { case (w, i) => if (at.contains(i)) s"$tag$i" else w }
    val rows = Seq(
      (1L, base.mkString(" ")),
      (2L, swap(base, 5 to 7, "b").mkString(" ")),
      (3L, swap(swap(base, 5 to 7, "b"), 20 to 22, "c").mkString(" ")),
      (10L, (0 until 30).map(i => s"z$i").mkString(" ")))
    val dir = graft.etl.Fixtures.tempDir("graft_cluster_chain")
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'test' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = LlmText.defs("llm_dedup_ngram_jaccard")(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L)),
      s"expected exactly the chain edges, got $pairs")
    val clusters = LlmText.defs("llm_dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters === Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      10L -> (10L, true)))
  }

  test("label fixpoint converges on a planted diameter-60 chain (pointer doubling)") {
    import spark.implicits._
    // A 61-node path graph: plain min-label propagation needs 60
    // rounds (past the old cap, which threw); the pointer-doubling
    // escalation converges in ~10 + log2(60) rounds and must label
    // every node with the path minimum. A detached 3-cycle checks
    // doubling doesn't smear labels across components.
    val n = 61L
    val labels0 = (0L until n).toDF("doc_id")
      .selectExpr("doc_id", "doc_id AS lbl")
      .unionByName(Seq(100L, 101L, 102L).toDF("doc_id")
        .selectExpr("doc_id", "doc_id AS lbl"))
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val cyc = Seq((100L, 101L), (101L, 102L), (102L, 100L))
    val e = (chain ++ cyc).toDF("src", "dst")
    val edges = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val out = LlmText.labelFixpoint(labels0, edges)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.unpersist()
    assert(got.size === 64)
    assert((0L until n).forall(got(_) == 0L),
      "every chain node must carry the path minimum")
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L),
      "cycle labels must not leak from the chain component")
  }

  test("signature cache is keyed by session — newSession gets its own copy") {
    // The bug class under test: a cache keyed by sfDir alone hands a
    // second session (or a restarted one in the same JVM) a DataFrame
    // bound to the FIRST session — which breaks outright once that
    // session's context is stopped. Asserting `sparkSession eq` on a
    // newSession() catches exactly that wrong-session binding without
    // stopping the suite-shared SparkContext out from under the other
    // (concurrently running) suites. Covers every session-memoized
    // builder: the lineage-persisted tables and one staged-parquet
    // artifact (Fixtures.stagedPersisted).
    val a = spark
    val b = a.newSession()
    val builders = Seq[(String, SparkSession => DataFrame)](
      "signed" -> (LlmText.signed(_, sfDir)),
      "simhashFp" -> (LlmText.simhashFp(_, sfDir)),
      "knnGraphRanked" -> (LlmText.knnGraphRanked(_, sfDir)),
      "dedupClusters" -> (LlmText.dedupClusters(_, sfDir)),
      "verifiedPairs" -> (LlmText.verifiedPairs(_, sfDir)))
    builders.foreach { case (name, build) =>
      val dfA = build(a)
      assert(dfA.sparkSession eq a, name)
      val dfB = build(b)
      assert(dfB.sparkSession eq b,
        s"$name: cache returned a DataFrame bound to a different session")
      // per-session entries are stable (no rebuild on re-ask) …
      assert(build(b) eq dfB, name)
      assert(build(a) eq dfA, name)
    }
    // … and the full pipeline runs green on the new session
    val na = LlmText.defs("llm_dedup_minhash")(a, sfDir).count()
    val nb = LlmText.defs("llm_dedup_minhash")(b, sfDir).count()
    assert(na === nb && nb > 0)
  }

  test("ANN-IVF is exact within probed cells; recall@10 documented") {
    // IVF's ONLY approximation is cell pruning (nprobe=2 of 16): inside
    // the probed cells ranking is exact cosine, so the result must
    // EQUAL the brute-force top-10 restricted to those cells.
    val ivf = LlmVector.defs("llm_ann_ivf")(spark, sfDir)
      .select("vec_id", "cosine").collect()
    val probedCells = LlmVector.defs("llm_ann_ivf")(spark, sfDir)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(probedCells.nonEmpty && probedCells.size <= 2, s"nprobe=2, got $probedCells")
    // brute-force: exact cosine of every non-query vector vs vec 7
    val e = Tables.t(spark, sfDir, "embeddings")
    val q = e.where(col("vec_id") === 7)
      .select(col("embedding").as("qe"))
    val exact = e.where(col("vec_id") =!= 7).crossJoin(broadcast(q))
      .selectExpr("vec_id",
        """aggregate(zip_with(embedding, qe, (x, y) -> cast(x as double) * cast(y as double)),
             0D, (a, x) -> a + x) /
           (sqrt(aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)), 0D, (a, x) -> a + x)) *
            sqrt(aggregate(transform(qe, x -> cast(x as double) * cast(x as double)), 0D, (a, x) -> a + x))) AS cosine""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ranking inside probed cells is EXACT: every returned cosine must
    // equal the brute-force value, and rows must arrive sorted desc
    ivf.foreach { r =>
      assert(math.abs(r.getDouble(1) - exact(r.getLong(0))) < 1e-9,
        s"vec ${r.getLong(0)}: ivf=${r.getDouble(1)} exact=${exact(r.getLong(0))}")
    }
    assert(ivf.map(_.getDouble(1)).toSeq === ivf.map(_.getDouble(1)).toSeq.sorted.reverse)
    // global exact top-10 (the recall denominator)
    val top10 = exact.toSeq.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val ivfIds = ivf.map(_.getLong(0)).toSet
    val recall = (ivfIds & top10).size / 10.0
    // Deterministic corpus + deterministic centroids ⇒ recall is a
    // constant per sfDir. nprobe=2/16 on this corpus keeps ≥ 30% of the
    // true neighbors — the documented trade-off (raise nprobe for more).
    assert(recall >= 0.3, s"recall@10 = $recall")
  }

  test("the driver-side IVF probe picks the in-plan probe's cells") {
    // Cents.probe gives the persisted and IVFPQ keys their cell
    // literals, withProbed gives the in-plan keys their probed array;
    // the keys share llm_ann_ivf's oracle only while the two agree.
    // Every vector is the query once: parity centroids at k = 16 and
    // 64 with nprobe 2 and 8, and the k-means centroids at 8.
    import graft.functions.VectorOps.l2norm
    val q = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").as("qe"),
        l2norm(col("embedding")).as("qn"))
    val n = q.count()
    val cases = (for (k <- Seq(16, 64); nprobe <- Seq(2, 8))
      yield (s"parity k=$k", LlmVector.Cents.parity(k), nprobe)) :+
      (("k-means", LlmVector.kmeansCentroids(spark, sfDir), 8))
    for ((name, cents, nprobe) <- cases) {
      val rows = LlmVector.withProbed(q, cents, nprobe).collect()
      assert(n > 0 && rows.length == n)
      rows.foreach { r =>
        val inPlan = r.getSeq[Int](3)
        assert(inPlan.length == nprobe)
        assert(cents.probe(r.getSeq[Float](1), r.getDouble(2), nprobe) ==
          inPlan, s"$name nprobe=$nprobe, query vec ${r.getLong(0)}")
      }
    }
  }

  test("hierarchical pack_sequences equals the single-window formulation") {
    // The two-pass shard packing must be BIT-identical to the naive
    // global window (that's what the oracle checks too) — and must
    // actually shard: ≥ 32 range shards at 500 docs (width 16).
    val hier = LlmText.defs("llm_pack_sequences")(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "lang", "size(split(text, ' ')) AS n_tokens")
      .withColumn("cum_end", sum(col("n_tokens")).over(w))
      .selectExpr("doc_id", "lang", "n_tokens",
        "(cum_end - n_tokens) DIV 512 AS pack_id",
        "(cum_end - n_tokens) % 512 AS pack_offset")
    assert(hier.exceptAll(naive).isEmpty && naive.exceptAll(hier).isEmpty)
    assert(hier.count() === naive.count())
    val nShards = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id DIV 16 AS shard").distinct().count()
    assert(nShards >= 32, s"expected >= 32 range shards, got $nShards")
    // the corpus-sized window is partitioned by (lang, shard) — never
    // by lang alone (which would serialize each language in one task):
    // any single-column window in the plan must sit above an Aggregate
    // (i.e., operate on per-shard totals, cardinality corpus/16)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = hier.queryExecution.optimizedPlan.collect { case win: LWindow => win }
    assert(windows.exists(_.partitionSpec.size >= 2),
      "missing the (lang, shard)-partitioned corpus window")
    val corpusSingleCol = windows.filter(win => win.partitionSpec.size < 2 &&
      win.collectFirst { case a: Aggregate => a }.isEmpty)
    assert(corpusSingleCol.isEmpty,
      s"corpus-sized single-column window found:\n${corpusSingleCol.mkString("\n")}")
  }

  test("simhash banding is lossless for hamming <= 3 (pigeonhole recall = 1)") {
    // 4 bands of 16 bits: any pair differing in <= 3 bits must agree
    // exactly on >= 1 band, so the banded equi-join can NEVER miss a
    // qualifying pair. Brute-force all-pairs hamming over the
    // fingerprint strings is the ground truth (test scale only).
    val got = LlmText.defs("llm_dedup_simhash_pairs")(spark, sfDir)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val fps = LlmText.defs("llm_dedup_simhash")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val truth = (for {
      (ida, sa) <- fps; (idb, sb) <- fps if ida < idb
      h = sa.zip(sb).count { case (x, y) => x != y } if h <= 3
    } yield (ida, idb) -> h).toMap
    assert(truth.nonEmpty, "corpus should contain close simhash pairs")
    assert(got === truth,
      s"banded join disagreed with brute force: missing=${(truth.keySet -- got.keySet).take(5)} extra=${(got.keySet -- truth.keySet).take(5)}")
  }

  test("k-means IVF recall@10 >= parity-centroid IVF recall@10") {
    // Exact top-10 neighbors of the query vector (vec_id = 7) by brute
    // force are the ground truth; data-derived centroids must probe at
    // least as well as the fixed md5-parity stand-ins.
    import graft.functions.VectorOps.{cosine, l2norm}
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") === 7)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    val exact = e.filter(col("vec_id") =!= 7).crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosine(col("embedding"), col("qe"), col("nrm"), col("qn")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    def recall(key: String): Double = {
      val got = LlmVector.defs(key)(spark, sfDir)
        .collect().map(_.getLong(0)).toSet
      (got & exact).size.toDouble / exact.size
    }
    val parity = recall("llm_ann_ivf")
    val kmeans = recall("llm_ann_ivf_kmeans")
    assert(kmeans >= parity,
      s"k-means centroids recall $kmeans < parity-centroid recall $parity")
    assert(kmeans > 0.0, "k-means IVF probe found none of the true top-10")
  }

  test("k-means IVF routes a planted duplicate into the probed cells") {
    // An identical copy of the query vector lands in the query's own
    // cell (same argmax by construction), and the query's best cell is
    // always probed (it ranks first by centroid cosine) — so the
    // duplicate MUST come back, at cosine ~1.0, rank 1. This pins the
    // routing property that makes an IVF index an index.
    val e = Tables.t(spark, sfDir, "embeddings")
    val dir = graft.etl.Fixtures.tempDir("graft_ivf_dup")
    e.unionByName(e.filter(col("vec_id") === 7)
        .withColumn("vec_id", lit(1000007L)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top = LlmVector.defs("llm_ann_ivf_kmeans")(spark, dir).collect()
    assert(top.head.getLong(0) === 1000007L,
      s"planted duplicate should rank first, got ${top.head}")
    assert(top.head.getDouble(2) > 0.999999)
  }

  test("bloom-prefiltered decontamination is lossless vs the exact path") {
    // The 4096-bit bitmap is only a prefilter; the exact gram join runs
    // on survivors, so false positives cannot add rows and — because a
    // Bloom filter has no false negatives — nothing can be dropped.
    // Row-identity against the exact operator is the whole contract.
    val exact = LlmText.defs("llm_decontaminate")(spark, sfDir)
    val bloom = LlmText.defs("llm_decontaminate_bloom")(spark, sfDir)
    assert(exact.exceptAll(bloom).isEmpty && bloom.exceptAll(exact).isEmpty)
    assert(exact.count() === bloom.count())
  }

  test("substring-dedup spans are well-formed, disjoint, and genuinely shared") {
    val spans = LlmText.defs("llm_substring_dedup")(spark, sfDir).cache()
    assert(spans.count() > 0, "corpus should contain cross-doc 5-gram dups")
    // A span of n consecutive 5-gram positions covers n + 4 words.
    assert(spans.filter(col("n_grams") =!=
      col("span_end") - col("span_start") - 3).count() === 0)
    // Maximal spans never touch or overlap within a document (a shared
    // or adjacent position would have merged into one island).
    val overlaps = spans.as("a").join(spans.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("a.span_start") < col("b.span_start") &&
        col("b.span_start") <= col("a.span_end") - 3)
      .count()
    assert(overlaps === 0, s"$overlaps overlapping/adjacent span pairs")
    // Soundness: every reported gram position hashes to a value seen in
    // at least one OTHER document at test scale.
    val grams = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .where(size(col("t")) >= 5)
      .selectExpr("doc_id",
        """posexplode(transform(sequence(1, size(t) - 4),
             i -> md5(concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                  element_at(t, i + 2), element_at(t, i + 3),
                  element_at(t, i + 4))))) AS (p0, h)""")
      .selectExpr("doc_id", "p0 + 1 AS pos", "h")
    val covered = spans.join(grams, Seq("doc_id"))
      .where(col("pos").between(col("span_start"), col("span_end") - 4))
    val unshared = covered.as("c").join(grams.as("g"),
        col("c.h") === col("g.h") && col("c.doc_id") =!= col("g.doc_id"),
        "left_anti").count()
    assert(unshared === 0, s"$unshared span grams not shared cross-doc")
  }

  test("mix resample draws stay within one unit of the epoch factor") {
    val r = LlmText.defs("llm_mix_resample")(spark, sfDir).cache()
    // n_repeats is ⌊r⌋ or ⌊r⌋+1, never outside; factors capped at 4.
    assert(r.filter(col("n_repeats") < col("repeat_e6") / 1000000 - 1 ||
      col("n_repeats") > col("repeat_e6") / 1000000 + 1).count() === 0)
    assert(r.filter(col("repeat_e6") > 4000000).count() === 0)
    // Deterministic: an identical second run produces identical rows.
    val again = LlmText.defs("llm_mix_resample")(spark, sfDir)
    assert(r.exceptAll(again).isEmpty && again.exceptAll(r).isEmpty)
  }

  test("quality classifier uses at most 64 features and scores all docs") {
    val q = LlmText.defs("llm_quality_classifier")(spark, sfDir).cache()
    assert(q.count() === Tables.t(spark, sfDir, "documents").count())
    assert(q.filter(col("n_feats") > 64 || col("score_e6") < 0).count() === 0)
    // Every per-feature weight is ≤ 1e6 (df ≤ n_docs), so the score is
    // bounded by 64e6 — a sanity pin on the integer scaling.
    assert(q.filter(col("score_e6") > 64000000L).count() === 0)
  }

  test("cluster representative is the longest member of its own cluster") {
    val labels = LlmText.defs("llm_dedup_clusters")(spark, sfDir)
      .select("doc_id", "cluster_id")
    val lens = Tables.t(spark, sfDir, "documents").select("doc_id", "n_chars")
    val reps = LlmText.defs("llm_cluster_representative")(spark, sfDir).cache()
    // one representative per cluster, and the rep belongs to it
    assert(reps.count() ===
      labels.select("cluster_id").distinct().count())
    assert(reps.join(labels,
      reps("rep_doc_id") === labels("doc_id") &&
        reps("cluster_id") === labels("cluster_id")).count() === reps.count())
    // no member of the cluster is strictly longer than its representative
    val longer = labels.join(lens, Seq("doc_id"))
      .join(reps.select(col("cluster_id"), col("rep_chars")), Seq("cluster_id"))
      .filter(col("n_chars") > col("rep_chars"))
    assert(longer.count() === 0)
  }

  test("winnowing guarantee: docs sharing a >=8-word run share a fingerprint") {
    import spark.implicits._
    // 8 words = 4 consecutive 5-grams = one full window inside the run,
    // so winnowing MUST select the same gram in both documents. The
    // shared run sits at different offsets with different surroundings.
    val common = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $common delta epsilon zeta"),
      (2L, s"one $common two three four five six seven"),
      (3L, "nothing in common with the others at all whatsoever")
    ).toDF("doc_id", "text")
    val fps = graft.queries.LlmText.winnowOf(docs).cache()
    val shared12 = fps.filter(col("doc_id") === 1).select("fp")
      .intersect(fps.filter(col("doc_id") === 2).select("fp"))
    assert(shared12.count() >= 1)
    // and the unrelated doc shares nothing with either
    val shared3 = fps.filter(col("doc_id") === 3).select("fp")
      .intersect(fps.filter(col("doc_id") =!= 3).select("fp"))
    assert(shared3.count() === 0)
    // selection compresses: fewer fingerprints than grams
    val nGrams = docs.selectExpr("size(split(text, ' ')) - 4 AS n")
      .agg(sum(col("n"))).head.getLong(0)
    assert(fps.count() < nGrams)
  }

  test("winnowing handles a 20k-word document with ~1/4 selection") {
    import spark.implicits._
    // long-doc safety: the explode+window form never builds a per-row
    // gram array bigger than the doc itself, and the selection ratio
    // stays near the theoretical 2/(w+1) = 2/5 upper bound region
    val words = (1 to 20000).map(i => s"w${i % 7919}").mkString(" ")
    val fps = graft.queries.LlmText.winnowOf(
      Seq((1L, words)).toDF("doc_id", "text"))
    val n = fps.count()
    assert(n > 0 && n < 20000 / 2, s"selected $n of ~20k grams")
  }

  test("pagerank conserves (almost all) rank mass and respects the floor") {
    val r = LlmText.defs("llm_pagerank")(spark, sfDir).cache()
    val n = r.count()
    assert(n > 0)
    // every node keeps at least the teleport floor 0.15e6
    assert(r.filter(col("rank_e6") < 150000L).count() === 0)
    // integer-division truncation only LOSES mass: total stays within
    // [0.97·N, 1.0·N] × 1e6 after 3 damped iterations
    val total = r.agg(sum(col("rank_e6"))).head.getLong(0)
    assert(total <= n * 1000000L, s"total=$total n=$n")
    assert(total >= (n * 970000L), s"total=$total n=$n")
  }

  test("PPM decoder parses hand-built fixtures exactly (header variants)") {
    // plain header, 2x1 image, known pixel bytes
    val plain = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 2, 3, 4, 5.toByte)
    assert(LlmVector.decodePpm(plain) === ((2, 1, 15L)))
    // comment between magic and dims + tab/space/CRLF whitespace mix
    val commented = "P6\n# a comment\n#another\n 3\t1\r\n255\n"
      .getBytes("US-ASCII") ++ Array.fill[Byte](9)(200.toByte)
    assert(LlmVector.decodePpm(commented) === ((3, 1, 9 * 200L)))
    // malformed inputs must throw, never pass garbage downstream
    intercept[IllegalArgumentException] {
      LlmVector.decodePpm("P5\n2 1\n255\n".getBytes("US-ASCII")) // wrong magic
    }
    intercept[IllegalArgumentException] {
      LlmVector.decodePpm("P6\n2 1\n65535\n".getBytes("US-ASCII")) // 16-bit
    }
    intercept[IllegalArgumentException] { // truncated pixel payload
      LlmVector.decodePpm("P6\n2 1\n255\nab".getBytes("US-ASCII"))
    }
    // generator → decoder round trip, including the every-5th comment
    for (id <- 0L to 24L) {
      val (w, h, sum) = LlmVector.decodePpm(LlmVector.ppmBytes(id))
      assert(w === (id % 16 + 1).toInt && h === (id % 8 + 1).toInt)
      val s0 = (id * 131) % 256
      val expect = (0 until 3 * w * h).map(i => (s0 + i) % 256).sum
      assert(sum === expect, s"doc $id pixel sum")
    }
  }

  test("multimodal feature extraction decodes real PPM bytes deterministically") {
    val a = LlmVector.defs("llm_multimodal_features")(spark, sfDir)
    val b = LlmVector.defs("llm_multimodal_features")(spark, sfDir)
    assert(a.schema.fieldNames.toSeq ===
      Seq("doc_id", "width", "height", "n_bytes", "pixel_sum", "brightness"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() === b.count() && a.count() > 0)
    // decoded geometry must match the generator arithmetic for every row
    assert(a.filter(col("width") =!= (col("doc_id") % 16 + 1) ||
      col("height") =!= (col("doc_id") % 8 + 1)).count() === 0)
    // brightness is a mean of 8-bit values
    assert(a.filter(col("brightness") < 0 || col("brightness") > 255)
      .count() === 0)
  }

  test("BPE segmentation is lossless and never longer than the word") {
    // concatenating the learned pieces must reconstruct the original
    // word exactly (merges only ever join adjacent symbols), and the
    // piece count can never exceed the character count.
    val seg = LlmText.defs("llm_bpe_apply")(spark, sfDir)
    val bad = seg.where(
      expr("replace(segmented, ' ', '') <> w") ||
        col("n_pieces") > length(col("w")))
    assert(bad.count() === 0)
    // at least one merge must have fired somewhere (n_pieces < chars)
    assert(seg.where(col("n_pieces") < length(col("w"))).count() > 0)
  }

  test("BPE merge weights are non-increasing across rounds") {
    // each round merges the CURRENT most frequent pair; a later round
    // can never find a pair strictly heavier than an earlier choice
    // (merging only removes occurrences of the chosen pair's parts or
    // creates new symbols whose counts are bounded by the merged one)
    val m = LlmText.defs("llm_bpe_train")(spark, sfDir)
      .orderBy("merge_round").collect()
    assert(m.length === 3)
    assert(m.sliding(2).forall(p =>
      p(0).getAs[Long]("pair_weight") >= p(1).getAs[Long]("pair_weight")))
  }

  test("semdedup pruning never empties a cell and covers every vector") {
    // structural invariant of the one-pass rule: a cell's best-ranked
    // member has no better-ranked cell-mate, so it can never be
    // dropped — every nonempty cell must retain at least one vector
    val out = LlmVector.defs("llm_semdedup")(spark, sfDir)
    val emptied = out.groupBy("cell")
      .agg(sum(when(col("is_kept"), 1).otherwise(0)).as("kept"))
      .where(col("kept") === 0)
    assert(emptied.count() === 0)
    // and the output covers the whole corpus exactly once
    assert(out.count() ===
      Tables.t(spark, sfDir, "embeddings").count())
    assert(out.select("vec_id").distinct().count() === out.count())
  }

  test("perplexity bucket: two-pass sharded rank equals the naive window rank") {
    // llm_perplexity_bucket computes per-language ranks via
    // range-shard + offset (so no single task ever holds a whole
    // language); the result must be bit-identical to the naive
    // Window.partitionBy(lang) formulation it replaces.
    import org.apache.spark.sql.expressions.Window
    val out = LlmText.defs("llm_perplexity_bucket")(spark, sfDir).cache()
    val naive = out.select("doc_id", "lang", "avg_lp")
      .withColumn("naive_rank", row_number().over(Window.partitionBy("lang")
        .orderBy(col("avg_lp").desc, col("doc_id"))))
    val mismatched = out.join(naive.select("doc_id", "naive_rank"), "doc_id")
      .where(col("lang_rank") =!= col("naive_rank"))
    assert(mismatched.count() === 0)
    // terciles partition each language (with >=3 docs) into three
    // buckets whose sizes differ by at most 1
    val sizes = out.groupBy("lang", "ppl_bucket").count()
      .groupBy("lang").agg(sum("count").as("n"),
        (max("count") - min("count")).as("spread"),
        countDistinct("ppl_bucket").as("nb"))
    assert(sizes.where(col("n") >= 3 &&
      (col("spread") > 1 || col("nb") =!= 3)).count() === 0)
    out.unpersist()
  }

  test("URL canonicalization is idempotent and keeps one doc per canonical URL") {
    val urls = LlmText.defs("llm_url_canonicalize")(spark, sfDir).cache()
    // idempotence: running the same canonicalization over url_canon
    // must be the identity — no second round of stripping ever applies
    val recanon = urls.selectExpr("doc_id", "url_canon",
        "lower(regexp_extract(url_canon, '^([a-zA-Z]+)://', 1)) AS scheme",
        "lower(regexp_extract(url_canon, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host",
        "regexp_extract(url_canon, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) AS port",
        """regexp_replace(
             regexp_extract(url_canon, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
             '/+$', '') AS cpath""",
        """array_join(array_sort(filter(
             split(regexp_extract(url_canon, '\\?([^#]*)', 1), '&'),
             p -> substr(p, 1, 4) <> 'utm_')), '&') AS cq""")
      .selectExpr("doc_id", "url_canon",
        """concat(scheme, '://', host,
             CASE WHEN port IN ('', '80') THEN '' ELSE concat(':', port) END,
             cpath,
             CASE WHEN cq = '' THEN '' ELSE concat('?', cq) END)
           AS twice""")
    assert(recanon.where(col("twice") =!= col("url_canon")).count() === 0)
    // exactly one kept doc per canonical URL, and it is the minimum id
    val perUrl = urls.groupBy("url_canon")
      .agg(sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"),
        min("doc_id").as("lo"),
        min(when(col("is_kept"), col("doc_id"))).as("kept_id"))
    assert(perUrl.where(col("n_kept") =!= 1 ||
      col("kept_id") =!= col("lo")).count() === 0)
    urls.unpersist()
  }

  test("paragraph dedup keeps each distinct paragraph exactly once, order preserved") {
    val out = LlmText.defs("llm_paragraph_dedup")(spark, sfDir).cache()
    // n_kept bounded by n_paras, never negative
    assert(out.where(col("n_kept") > col("n_paras") ||
      col("n_kept") < 0).count() === 0)
    // global accounting: total kept paragraphs == number of DISTINCT
    // paragraph hashes in the corpus (each kept exactly once)
    val distinctParas = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr(
        """explode(transform(sequence(0, (size(toks) - 1) DIV 20),
             i -> array_join(slice(toks, i * 20 + 1, 20), ' ')))
           AS para""")
      .select(md5(col("para"))).distinct().count()
    val totalKept = out.agg(sum("n_kept")).head.getLong(0)
    assert(totalKept === distinctParas)
    out.unpersist()
  }

  test("IVFPQ agrees with exhaustive ADC on shared results and probed cells") {
    val ivfpq = LlmVector.defs("llm_ann_ivfpq")(spark, sfDir)
      .select("vec_id", "adc_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val adc = LlmVector.defs("llm_ann_pq_adc")(spark, sfDir)
      .select("vec_id", "adc_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // cell pruning must not change a vector's ADC score — any vec in
    // both top-10s scores bit-identically
    val shared = ivfpq.keySet intersect adc.keySet
    assert(shared.forall(v => ivfpq(v) == adc(v)),
      s"score drift on $shared")
    // and pruning can only LOSE candidates: the exhaustive top-10's
    // minimum score bounds the pruned top-10's minimum from above
    assert(ivfpq.values.min <= adc.values.max)
  }

  test("PQ reconstruction error is non-negative and code range is valid") {
    val out = LlmVector.defs("llm_embedding_pq")(spark, sfDir).cache()
    assert(out.where(col("err_e8") < 0).count() === 0)
    val badCode = (0 until 4).map(m =>
      out.where(col(s"code_$m") < 0 || col(s"code_$m") > 15).count()).sum
    assert(badCode === 0)
    out.unpersist()
  }

  test("prefix-filtered set-sim join is EXACT: equals brute-force all-pairs") {
    // PPJoin's guarantee is exactness — unlike LSH there is no recall
    // loss. The prefix-filtered result must equal the O(n²) truth over
    // the same shingle sets, both directions (no missed pairs, no
    // phantom pairs) — and since llm_dedup_ngram_jaccard scores the
    // same space at the same threshold through LSH candidates, the
    // exact join must be a SUPERSET of the LSH-verified pairs.
    val got = LlmText.defs("llm_setsim_join")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "text", "split(text, ' ') AS tk")
      .selectExpr("doc_id",
        """CASE WHEN size(tk) >= 3 THEN
             array_distinct(transform(sequence(1, size(tk) - 2),
               i -> concat_ws(' ', element_at(tk, i),
                    element_at(tk, i+1), element_at(tk, i+2))))
           ELSE array(text) END AS sh""")
    val truth = docs.as("a").join(docs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
        """size(array_intersect(a.sh, b.sh)) /
           (size(a.sh) + size(b.sh) -
            size(array_intersect(a.sh, b.sh))) AS j""")
      .where(col("j") >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain near-dup shingle sets")
    assert(got === truth,
      s"missed=${(truth -- got).size} phantom=${(got -- truth).size}")
    val lshVerified = LlmText.defs("llm_dedup_ngram_jaccard")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshVerified.subsetOf(got),
      s"exact join missed ${(lshVerified -- got).size} LSH-verified pairs")
  }

  test("reservoir sample takes exactly min(k, stratum size) per stratum") {
    val res = LlmText.defs("llm_sample_reservoir")(spark, sfDir)
      .groupBy("lang", "source").count()
    val strata = Tables.t(spark, sfDir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val bad = res.join(strata, Seq("lang", "source"), "full_outer")
      .where(col("count") =!= least(lit(5L), col("n")))
    assert(bad.count() === 0)
  }

  test("degree-oriented triangle count equals the unoriented brute force") {
    val tri = LlmText.defs("llm_triangle_count")(spark, sfDir).collect()(0)
    val und = LlmText.defs("llm_dedup_ngram_jaccard")(spark, sfDir)
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v")).distinct().cache()
    // brute force: u < v < w with all three edges present
    val truth = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u"))
      .join(und.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .count()
    assert(tri.getAs[Long]("n_triangles") === truth)
    assert(tri.getAs[Long]("n_edges") === und.count())
    und.unpersist()
  }

  test("leakage-safe split keeps every dedup cluster on one side") {
    val df = SparkEntry.queries("llm_leakage_safe_split")(spark, sfDir).cache()
    // the defining invariant: no cluster straddles a split boundary —
    // a violation is exactly the train/test near-dup leak the operator
    // exists to prevent
    val straddling = df.groupBy("cluster_id")
      .agg(countDistinct("split").as("n_splits"))
      .where(col("n_splits") > 1).count()
    assert(straddling === 0L)
    // all three splits materialize (the hash isn't degenerate) and
    // every document is assigned exactly once
    assert(df.select("split").distinct().count() === 3L)
    assert(df.count() ===
      Tables.t(spark, sfDir, "documents").count())
    df.unpersist()
  }

  test("ngram novelty: doc 0 is fully novel, exact duplicates score zero") {
    val rows = SparkEntry.queries("llm_ngram_novelty")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the first document has no predecessors: every gram is novel
    val (g0, n0, e0) = rows(0L)
    assert(g0 > 0 && n0 === g0 && e0 === 1000000L)
    // any doc whose text exactly duplicates an earlier doc must score 0
    val dups = LlmText.defs("llm_dedup_exact")(spark, sfDir)
      .where(col("n_copies") > 1).select("keep_doc_id").collect()
      .map(_.getLong(0)).toSet
    val laterCopies = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "md5(lower(trim(regexp_replace(text, '\\\\s+', ' ')))) AS fp")
      .collect().groupBy(_.getString(1)).values
      .filter(_.length > 1)
      .flatMap(g => g.map(_.getLong(0)).sorted.tail)
    laterCopies.foreach { d =>
      val (g, n, _) = rows(d)
      if (g > 0) assert(n === 0L, s"doc $d duplicates an earlier doc but has $n novel grams")
    }
  }

  test("ann recall audit is consistent with its own inputs") {
    val row = SparkEntry.queries("llm_ann_recall")(spark, sfDir).collect().head
    val (k, nHit, ppm) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(k > 0 && nHit >= 0 && nHit <= k)
    assert(ppm === nHit * 1000000L / k)
    // n_hit must equal the true overlap: recompute the exact top-10
    // for query 7 brute-force and intersect with the public IVF key
    val pred = SparkEntry.queries("llm_ann_ivf")(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val e = Tables.t(spark, sfDir, "embeddings")
    val qv = e.where(col("vec_id") === 7)
      .select("embedding").collect().head.getSeq[Float](0)
    val truth = e.where(col("vec_id") =!= 7)
      .select("vec_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        val dot = v.zip(qv).map { case (a, b) => a.toDouble * b.toDouble }.sum
        val nv = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
        val nq = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
        (r.getLong(0), dot / (nv * nq))
      }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    assert(nHit === (truth & pred).size.toLong)
  }

  test("matryoshka rerank emits exact full-dim cosines for its winners") {
    // every (vec_id, cosine) the two-stage key emits must match the
    // exact brute-force cosine for that vector — the coarse stage may
    // lose candidates (that's its trade), but it must never corrupt
    // the scores of the ones it keeps
    val got = SparkEntry.queries("llm_matryoshka_rerank")(spark, sfDir)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = SparkEntry.queries("llm_topk_similarity")(spark, sfDir)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val shared = got.keySet & exact.keySet
    assert(shared.nonEmpty, "two-stage and exact top-k share no vectors")
    shared.foreach { id =>
      assert(got(id) === exact(id), s"cosine mismatch for vec $id")
    }
  }

  test("cooccurrence PMI rows are canonical, thresholded, and sorted") {
    val rows = SparkEntry.queries("llm_cooccurrence_pmi")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pair not canonical (w1 < w2)")
      assert(r.getLong(2) >= 5L, "n_xy below threshold")
    }
    val pmis = rows.map(_.getLong(5))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b },
      "pmi_e6 not descending")
  }

  test("dedup eval stratum equals the full audit filtered to stratum pairs") {
    // The sampled-stratum llm_dedup_eval relies on a provable
    // equivalence: truth/pred restricted to the stratum == the
    // full-corpus llm_setsim_join / llm_dedup_minhash answers filtered
    // to pairs with BOTH endpoints in the stratum (band hashes are
    // per-doc; PPJoin's thresholded jaccard is pair-local and
    // df-order-invariant). Recompute the confusion counts from the
    // full public keys and compare against the key's own output.
    val inStratum = (c: String) =>
      s"substring(md5(concat(cast($c AS string), '#eval-stratum')), 1, 1)" +
        " NOT IN ('c','d','e','f')"
    val truth = SparkEntry.queries("llm_setsim_join")(spark, sfDir)
      .where(expr(inStratum("doc_a")) && expr(inStratum("doc_b")))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pred = SparkEntry.queries("llm_dedup_minhash")(spark, sfDir)
      .where(col("est_jaccard") >= 0.5 &&
        expr(inStratum("doc_a")) && expr(inStratum("doc_b")))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = SparkEntry.queries("llm_dedup_eval")(spark, sfDir)
      .collect().head
    assert(row.getLong(0) === truth.size, "n_truth")
    assert(row.getLong(1) === pred.size, "n_pred")
    assert(row.getLong(2) === (truth & pred).size, "tp")
    assert(row.getLong(3) === (pred -- truth).size, "fp")
    assert(row.getLong(4) === (truth -- pred).size, "fn")
  }

  test("simhash eval confusion counts equal the public truth/pred keys") {
    // The stratum-equivalence pin for llm_simhash_eval (same argument
    // as llm_dedup_eval's): the audit's stratum-restricted confusion
    // must equal the FULL-corpus public keys' answers filtered to
    // pairs with both endpoints in the stratum — band values are
    // per-doc and PPJoin is df-order-invariant, so restricting inputs
    // equals restricting outputs.
    val inStratum = (c: String) =>
      s"substring(md5(concat(cast($c AS string), '#eval-stratum')), 1, 1)" +
        " NOT IN ('c','d','e','f')"
    val truth = SparkEntry.queries("llm_setsim_join")(spark, sfDir)
      .where(expr(inStratum("doc_a")) && expr(inStratum("doc_b")))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pred = SparkEntry.queries("llm_dedup_simhash_pairs")(spark, sfDir)
      .where(expr(inStratum("doc_a")) && expr(inStratum("doc_b")))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = SparkEntry.queries("llm_simhash_eval")(spark, sfDir)
      .collect().head
    assert(row.getLong(0) === truth.size, "n_truth")
    assert(row.getLong(1) === pred.size, "n_pred")
    assert(row.getLong(2) === (truth & pred).size, "tp")
    if (pred.nonEmpty)
      assert(row.getLong(3) ===
        (truth & pred).size.toLong * 1000000L / pred.size, "precision_ppm")
    if (truth.nonEmpty)
      assert(row.getLong(4) ===
        (truth & pred).size.toLong * 1000000L / truth.size, "recall_ppm")
  }

  test("shingle-simhash audit: same truth, strictly better precision here") {
    val uni = SparkEntry.queries("llm_simhash_eval")(spark, sfDir)
      .collect().head
    val shi = SparkEntry.queries("llm_simhash_shingle_eval")(spark, sfDir)
      .collect().head
    // both audits measure against the SAME exact PPJoin truth
    assert(uni.getLong(0) === shi.getLong(0), "n_truth must agree")
    // internal consistency: tp bounded by both set sizes
    assert(shi.getLong(2) <= math.min(shi.getLong(0), shi.getLong(1)))
    // the measured design-iteration claim on this corpus: aligning the
    // feature space with the truth's shingle sets improves BOTH
    // precision and recall of the hamming<=3 rule
    assert(shi.getLong(3) > uni.getLong(3), "precision_ppm should improve")
    assert(shi.getLong(4) > uni.getLong(4), "recall_ppm should improve")
  }

  test("LSH tune: (6,2) row reproduces the production banding's counts") {
    val mh = SparkEntry.queries("llm_dedup_minhash")(spark, sfDir).cache()
    val nCand = mh.count()
    val nGe = mh.where(col("est_jaccard") >= 0.5).count()
    val rows = SparkEntry.queries("llm_minhash_lsh_tune")(spark, sfDir)
      .collect()
    assert(rows.length === 4)
    val r62 = rows.find(r => r.getInt(0) == 6 && r.getInt(1) == 2).get
    assert(r62.getLong(2) === nCand, "n_candidates (6,2)")
    assert(r62.getLong(3) === nGe, "n_est_ge_half (6,2)")
    // Every r>2 band fully contains some r=2 band, so each stricter
    // config's candidate set is a SUBSET of the production (6,2) set.
    rows.filter(_.getInt(1) > 2).foreach { r =>
      assert(r.getLong(2) <= nCand,
        s"(${r.getInt(0)},${r.getInt(1)}) candidates exceed (6,2)")
    }
  }

  test("bigram LM scores every bigram of every eligible doc, negatively") {
    val nTok = Tables.t(spark, sfDir, "documents")
      .selectExpr("doc_id", "size(split(text, ' ')) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("llm_bigram_lm_score")(spark, sfDir)
      .collect()
    assert(rows.length === nTok.count(_._2 >= 2))
    rows.foreach { r =>
      // trained-on-corpus LM: every bigram occurrence must hit the LM
      // table, so per-doc coverage is exactly (tokens - 1)
      assert(r.getLong(1) === nTok(r.getLong(0)) - 1L,
        s"doc ${r.getLong(0)}: n_bigrams != tokens - 1")
      assert(r.getDouble(2) < 0.0, "log-prob must be negative")
    }
  }

  test("contamination reach equals a driver-side BFS from the seed set") {
    val pairs = SparkEntry.queries("llm_dedup_ngram_jaccard")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val seeds = Tables.t(spark, sfDir, "documents")
      .where(col("doc_id") % 100 === 0).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    var depth = seeds.map(_ -> 0).toMap
    for (d <- 1 to 3) {
      val frontier = depth.filter(_._2 == d - 1).keySet
        .flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(depth.contains)
      depth = depth ++ frontier.map(_ -> d)
    }
    val got = SparkEntry.queries("llm_contamination_reach")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === depth)
    assert(got.valuesIterator.exists(_ > 0),
      "some non-seed doc should be reachable")
  }

  test("zipf fit spans min(1000, vocab) terms with a negative slope") {
    val vocab = Tables.t(spark, sfDir, "documents")
      .selectExpr("explode(split(text, ' ')) AS tok").distinct().count()
    val row = SparkEntry.queries("llm_zipf_slope")(spark, sfDir)
      .collect().head
    assert(row.getLong(0) === math.min(1000L, vocab))
    assert(row.getLong(1) < 0L, "Zipf slope should be negative")
  }

  test("Kneser-Ney covers the same bigrams as add-k and stays negative") {
    val addk = SparkEntry.queries("llm_bigram_lm_score")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kn = SparkEntry.queries("llm_kneser_ney_score")(spark, sfDir)
      .collect()
    // same observed-bigram bound: identical doc set and per-doc counts
    assert(kn.map(r => r.getLong(0) -> r.getLong(1)).toMap === addk)
    kn.foreach { r =>
      assert(r.getDouble(2) < 0.0,
        s"doc ${r.getLong(0)}: KN log-prob must be negative " +
          "(P is a proper sub-1 probability for every observed bigram)")
    }
  }

  test("perceptual-hash clusters partition the image corpus exactly") {
    val nDocs = Tables.t(spark, sfDir, "documents").count()
    val rows = SparkEntry.queries("llm_multimodal_phash")(spark, sfDir)
      .collect()
    // every image lands in exactly one hash cluster; exemplars unique
    assert(rows.map(_.getLong(4)).sum === nDocs)
    val keeps = rows.map(_.getLong(5))
    assert(keeps.distinct.length === keeps.length)
    // the fixture plants exact perceptual dups (hash depends only on
    // (w, h, s0) ≡ doc_id mod lcm structure) — some cluster must be >1
    assert(rows.exists(_.getLong(4) > 1L),
      "fixture should contain perceptually identical images")
  }

  test("ANN range search agrees with the IVF top-k on the shared index") {
    val range = SparkEntry.queries("llm_ann_range")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    range.values.foreach(c => assert(c >= 0.1, "threshold must hold"))
    // same cells, same query: every top-10 IVF hit at or above the
    // radius must appear in the range result with the same cosine
    SparkEntry.queries("llm_ann_ivf")(spark, sfDir).collect()
      .filter(_.getDouble(2) >= 0.1)
      .foreach { r =>
        assert(range.get(r.getLong(0)).contains(r.getDouble(2)),
          s"vec ${r.getLong(0)} in IVF top-10 above radius but missing " +
            "from range result")
      }
  }

  test("round-9 audit keys satisfy their structural invariants") {
    val sfDir = "/root/testdata/sf0.001"
    // Kaplan-Meier: survival is non-increasing in time, starts <= 1e6,
    // and n_at_risk is non-increasing
    val km = SparkEntry.queries("win_kaplan_meier")(spark, sfDir).collect()
    assert(km.nonEmpty)
    km.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(3) <= a.getLong(3), "survival must not rise")
        assert(b.getLong(1) <= a.getLong(1), "at-risk must not rise")
      case _ => ()
    }
    assert(km.head.getLong(3) <= 1000000L)
    // MMR: 5 distinct picks, first pick is the relevance argmax, and
    // every later pick's mmr score is computed from its own fields
    val mmr = SparkEntry.queries("llm_mmr_diversify")(spark, sfDir).collect()
    assert(mmr.length === 5)
    assert(mmr.map(_.getLong(1)).distinct.length === 5)
    assert(mmr.head.getLong(2) === mmr.map(_.getLong(2)).max,
      "pick 1 must be the relevance argmax")
    mmr.foreach { r =>
      assert(r.getLong(4) === r.getLong(2) * 7 - r.getLong(3) * 3)
    }
    // modularity of a CC labeling: every edge is intra-cluster and the
    // score is a proper fraction of 1e6
    val mod = SparkEntry.queries("llm_graph_modularity")(spark, sfDir)
      .head()
    assert(mod.getLong(0) === mod.getLong(2), "CC labels: intra == m")
    assert(mod.getLong(3) >= -1000000L && mod.getLong(3) <= 1000000L)
    // cluster coherence: means inside the edge-score band, density a
    // proper ppm fraction
    SparkEntry.queries("llm_cluster_coherence")(spark, sfDir).collect()
      .foreach { r =>
        assert(r.getLong(3) >= 400000L && r.getLong(3) <= 1000000L,
          s"mean cosine outside the >=0.4 edge band: $r")
        assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L)
      }
    // unicode normalize: every doc's variants converge and shrink
    SparkEntry.queries("llm_unicode_normalize")(spark, sfDir).collect()
      .foreach { r =>
        assert(r.getBoolean(4), s"NFC forms must converge: $r")
        assert(!r.getBoolean(5), "pre/dec variants must differ pre-NFC")
        assert(r.getInt(1) >= r.getInt(2), "NFC never lengthens")
      }
  }

  test("span attribution: identical cross-doc spans share a fingerprint, earliest doc keeps") {
    // Crafted corpus: docs 1 and 2 embed the IDENTICAL 6-word run
    // "a b c d e f" in different surrounding contexts (so their maximal
    // duplicated spans have different OFFSETS but the same content);
    // doc 3 shares nothing. The decision semantics under test: both
    // occurrences collapse to one span_fp group, the smaller doc_id is
    // elected keeper, the other copy is 'cut' — and the cut span's
    // actual words equal the keeper's span words (content identity, not
    // just hash identity).
    val dir = graft.etl.Fixtures.tempDir("graft_span_attr")
    val rows = Seq(
      (1L, "u1 u2 a b c d e f u3", "en", "s1"),
      (2L, "v1 a b c d e f v2 v3", "en", "s2"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "en", "s3"))
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmText.defs("llm_span_attribution")(spark, dir).collect()
    assert(out.length === 2, s"expected exactly the two twin spans, got ${out.length}")
    val byDoc = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byDoc.keySet === Set(1L, 2L))
    val (r1, r2) = (byDoc(1L), byDoc(2L))
    assert(r1.getAs[String]("span_fp") === r2.getAs[String]("span_fp"))
    assert(r1.getAs[Long]("n_docs_sharing") === 2L)
    assert(r1.getAs[Long]("keeper_doc") === 1L && r2.getAs[Long]("keeper_doc") === 1L)
    assert(r1.getAs[String]("action") === "keep" && r2.getAs[String]("action") === "cut")
    // extents: doc1 words 3..8, doc2 words 2..7 — same 6 words
    def words(text: String, from: Int, to: Int): Seq[String] =
      text.split(" ").slice(from - 1, to)
    val w1 = words(rows(0)._2, r1.getAs[Int]("span_start"), r1.getAs[Int]("span_end"))
    val w2 = words(rows(1)._2, r2.getAs[Int]("span_start"), r2.getAs[Int]("span_end"))
    assert(w1 === Seq("a", "b", "c", "d", "e", "f") && w2 === w1)
  }

  test("contamination direction: id order of (seed, doc) decides the flow label") {
    // Crafted corpus: seed 100 (doc_id % 100 == 0) duplicated by the
    // LATER train doc 150 (the crawl ingested the benchmark:
    // train->eval), seed 200 duplicated by the EARLIER train doc 50
    // (the benchmark was built from older web text: eval->train), plus
    // unrelated fillers. Texts are exact copies so the near-dup tier
    // finds both edges deterministically.
    val dir = graft.etl.Fixtures.tempDir("graft_contam_dir")
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val rows = Seq(
      (100L, t1, "en", "srcSeed"),
      (150L, t1, "en", "sA"),
      (200L, t2, "en", "srcSeed"),
      (50L, t2, "en", "sB"),
      (7L, "red green blue cyan magenta yellow black", "en", "sA"),
      (8L, "lion tiger bear wolf fox otter lynx", "en", "sB"))
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmText.defs("llm_contamination_direction")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("sA")
    assert(a.getAs[Long]("n_contaminated") === 1L)
    assert(a.getAs[Long]("n_train_to_eval") === 1L) // 150 > seed 100
    assert(a.getAs[Long]("n_eval_to_train") === 0L)
    assert(a.getAs[Int]("min_depth") === 1)
    val b = out("sB")
    assert(b.getAs[Long]("n_contaminated") === 1L)
    assert(b.getAs[Long]("n_train_to_eval") === 0L)
    assert(b.getAs[Long]("n_eval_to_train") === 1L) // 50 < seed 200
    // contamination rate: each source has 2 train docs, 1 contaminated
    assert(a.getAs[Long]("contamination_ppm") === 500000L)
  }

  test("dedup source matrix: exact pairs point at the keeper, identical-text pairs never count as near") {
    // Crafted corpus: doc 1 (s1) and doc 2 (s2) byte-identical (exact
    // tier: one pair 1->2); doc 3 (s2) shares 6 of its 8 3-gram
    // shingles with both (near tier: pairs 1->3 and 2->3, fp differs);
    // doc 4 unrelated. The semantics under test: (a) orientation is
    // id-order (doc_a = earlier = original side), (b) the (2,3) pair
    // counts under (s2, s2) — near-dup flow within one source is
    // visible, (c) identical texts never inflate the near tier.
    val dir = graft.etl.Fixtures.tempDir("graft_src_matrix")
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val near = "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"
    val rows = Seq(
      (1L, base, "en", "s1"),
      (2L, base, "en", "s2"),
      (3L, near, "en", "s2"),
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8", "en", "s1"))
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmText.defs("llm_dedup_source_matrix")(spark, dir).collect()
      .map(r => (r.getAs[String]("src_orig"), r.getAs[String]("src_dup")) -> r)
      .toMap
    val s12 = out(("s1", "s2"))
    assert(s12.getAs[Long]("n_exact") === 1L) // 1 -> 2 byte-identical
    assert(s12.getAs[Long]("n_near") === 1L)  // 1 -> 3
    assert(s12.getAs[Long]("n_pairs") === 2L)
    // s2 has 2 docs, 2 duplicate pairs land on it -> 1e6 ppm
    assert(s12.getAs[Long]("dup_rate_ppm") === 1000000L)
    val s22 = out(("s2", "s2"))
    assert(s22.getAs[Long]("n_near") === 1L && s22.getAs[Long]("n_exact") === 0L)
    assert(!out.contains(("s1", "s1")), "unrelated doc must not pair")
  }

  test("span attribution extends llm_substring_dedup: identical span table, added decision columns") {
    // The attribution key derives from the SAME gram/island pipeline as
    // llm_substring_dedup — its (doc_id, span_start, span_end, n_grams)
    // projection must equal that key's output EXACTLY, or the two
    // views of "what is duplicated" have drifted apart.
    val spans = LlmText.defs("llm_substring_dedup")(spark, sfDir)
    val attr = LlmText.defs("llm_span_attribution")(spark, sfDir)
      .select("doc_id", "span_start", "span_end", "n_grams")
    assert(spans.count() > 0)
    assert(attr.exceptAll(spans).isEmpty && spans.exceptAll(attr).isEmpty,
      "span_attribution's span table drifted from llm_substring_dedup")
  }
}
