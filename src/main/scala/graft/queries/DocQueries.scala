package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.io.Artifacts
import graft.ops.{CacheRegistry, Dedup, MediaCodec, Multimodal, Sampling, Similarity, TextAnalysis => TA}
import graft.sources.Tables

/** Training-data pipeline operators over `documents` and `embeddings`:
  * text analysis, deduplication (exact / n-gram Jaccard / MinHash+LSH /
  * SimHash / embedding-cosine), similarity search (brute-force + sign-LSH),
  * and multimodal binary-column plumbing.
  *
  * Every query has a DuckDB oracle. Hashes are md5-based and embeddings are
  * integer-quantized so oracle results match bit-for-bit (see Hashing /
  * Similarity scaladoc).
  */
object DocQueries {

  private val JaccardTau = 0.5
  private val CosineTau = 0.44
  private val LshDims = Seq(1, 9, 17, 25, 33, 41, 49, 57)

  /** Corpus-relative stop-shingle cap for the exact-Jaccard queries: a
    * shingle in more than max(5, 2% of docs) documents is treated as a stop
    * shingle (see Dedup.jaccardPairs scale rationale).
    */
  private val StopFrac = 0.02

  /** Materialize-once (doc_id, rep) dedup-label artifact for `dir`: the
    * LSH → connected-components pipeline runs on first request and lands
    * as parquet; subsequent consumers (within this JVM) reuse the path.
    * Labels cover only the duplicate subset (docs in some near-dup pair);
    * consumers COALESCE to doc_id for singleton docs.
    */
  private[graft] def dedupLabelsArtifact(s: SparkSession, dir: String): String =
    Artifacts.land("dedup_labels", dir) { out =>
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
      Dedup.dedupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster").as("rep"))
        .write.mode("overwrite").parquet(out)
    }

  /** Materialize-once MEDIA artifact for `dir`: the encoded PNG/WAV/
    * container payloads ([[MediaCodec.mediaTable]]) land as parquet on
    * first request; consumers scan the artifact instead of re-encoding
    * (at 100 TB, media bytes are INGESTED once — the per-query encode in
    * the q_mm_* fixtures is the bench-discipline stand-in for that
    * ingest, and this artifact is what repeat decode passes read).
    */
  private[graft] def mediaArtifact(s: SparkSession, dir: String): String =
    Artifacts.land("media", dir)(out =>
      MediaCodec.mediaTable(s, Tables.documents(s, dir)).toDF()
        .write.mode("overwrite").parquet(out))

  // ---- shared DuckDB fragments ----

  /** The pinned merge table as a VALUES literal — one source of truth
    * ([[TA.BpeMerges]]) feeds both the typed pass and the oracle.
    */
  private def sqlBpeMerges: String = TA.BpeMerges.zipWithIndex
    .map { case ((l, r), i) => s"(${i + 1},'$l','$r')" }.mkString(", ")

  /** Oracle replay of BPE TRAINING: n unrolled stages, each one a
    * pair-count + argmax over the word table segmented under the merges
    * won SO FAR — data-dependent iteration in pure SQL. Segmentation is
    * itself unrolled to `steps` apply-one-best-merge CTE steps (identity
    * when nothing applies): a word of length L fully segments in ≤ L-1
    * steps, and the fixture vocabulary caps at 8 chars, so 11 steps carry
    * ample headroom. DELIBERATELY NON-RECURSIVE with every stage
    * MATERIALIZED: recursive-CTE segmentation is correct only with ZERO
    * materialization (DuckDB evaluates a computed merge-table CTE as
    * empty inside a recursive term when anything downstream is
    * MATERIALIZED — measured, words silently dropped mid-merge), and the
    * unmaterialized form re-inlines the whole stage prefix into every
    * correlated probe (exponential: 2.6 s at 5 stages, 86 s at 7). The
    * unrolled+materialized form replays 12 stages in ~1 s, bit-equal to
    * the independent reference implementation.
    */
  private def sqlBpeTrain(n: Int, steps: Int = 11): String = {
    def step(name: String, src: String, m: String): String =
      s"$name AS MATERIALIZED (\n" +
        "  SELECT word, freq,\n" +
        "    CASE WHEN best IS NULL THEN toks\n" +
        "         ELSE toks[1:struct_extract(best,'i')-1]\n" +
        "              || [toks[struct_extract(best,'i')] || toks[struct_extract(best,'i')+1]]\n" +
        "              || toks[struct_extract(best,'i')+2:] END AS toks\n" +
        "  FROM (SELECT word, freq, toks,\n" +
        "          (SELECT min({'r': m.rank, 'i': i})\n" +
        "           FROM unnest(generate_series(1, len(toks)-1)) AS t(i)\n" +
        s"           JOIN $m m ON m.l = toks[i] AND m.r = toks[i+1]) AS best\n" +
        s"        FROM $src))"
    val parts = scala.collection.mutable.ArrayBuffer(
      "wf AS MATERIALIZED (\n" +
        "  SELECT lower(w) AS word, CAST(count(*) AS BIGINT) AS freq\n" +
        "  FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS w\n" +
        "        FROM documents)\n" +
        "  GROUP BY 1),\n" +
        "seg0 AS MATERIALIZED (SELECT word, freq, string_split(word, '') AS toks FROM wf)")
    var prev = "seg0"
    for (k <- 1 to n) {
      parts += (
        s"p$k AS MATERIALIZED (\n" +
          "  SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt\n" +
          s"  FROM $prev, unnest(generate_series(1, len(toks)-1)) AS t(i)\n" +
          "  GROUP BY 1, 2),\n" +
          s"w$k(rank, l, r, cnt) AS MATERIALIZED (\n" +
          s"  SELECT CAST($k AS BIGINT), l, r, cnt FROM p$k\n" +
          "  ORDER BY cnt DESC, l, r LIMIT 1),\n" +
          s"m$k(rank, l, r) AS MATERIALIZED (" +
          (1 to k).map(j => s"SELECT rank, l, r FROM w$j").mkString(" UNION ALL ") + ")")
      if (k < n) {
        var src = "seg0"
        for (j <- 1 to steps) {
          parts += step(s"s${k}_$j", src, s"m$k")
          src = s"s${k}_$j"
        }
        prev = src
      }
    }
    "WITH\n" + parts.mkString(",\n") + "\n" +
      "SELECT rank, l AS merge_l, r AS merge_r, cnt\n" +
      s"FROM (${(1 to n).map(j => s"SELECT * FROM w$j").mkString(" UNION ALL ")})\n" +
      "ORDER BY rank"
  }

  /** Distinct 3-word shingles + per-doc set sizes over `src` (mirrors
    * Dedup.shingles).
    */
  private def sqlShingleCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
       |       FROM toks, unnest(generate_series(1, len(toks)-2)) AS t(i)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)""".stripMargin

  private val sqlShingleCtes = sqlShingleCtesFrom("documents")

  /** Shingle CTEs with the corpus-relative stop-shingle guard applied
    * (mirrors Dedup.jaccardPairs with stopShingleFrac = [[StopFrac]]):
    * `sh`/`sz` are post-guard, so downstream pair SQL is unchanged.
    */
  private def sqlGuardedShingleCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |sh0 AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
       |        FROM toks, unnest(generate_series(1, len(toks)-2)) AS t(i)),
       |keepsh AS (SELECT shingle FROM sh0 GROUP BY shingle
       |           HAVING count(*) <= greatest(5.0, $StopFrac * (SELECT count(*) FROM $src))),
       |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keepsh USING (shingle)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)""".stripMargin

  /** The full MinHash+LSH pipeline as a CTE chain over `src`, ending in
    * `lshpairs(i, j, jac)` (mirrors Dedup.minhashLshPairs: scan-side
    * signatures, 4x4 band candidates, exact-Jaccard verify of candidates).
    */
  private def sqlLshPairCtesFrom(src: String): String = {
    val minExprs = (0 until 16).map(s =>
      s"min((${Hashing.minhashA(s)} * hx + ${Hashing.minhashB(s)}) % ${Hashing.MinhashP}) AS h$s")
      .mkString(",\n  ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""${sqlShingleCtesFrom(src)},
       |hashed AS (SELECT doc_id, ${Hashing.sqlMd5Long("shingle")} % ${Hashing.MinhashP} AS hx FROM sh),
       |sig AS (SELECT doc_id,
       |  $minExprs
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand c ON c.i = a.doc_id AND c.j = b.doc_id
       |  GROUP BY 1, 2),
       |lshpairs AS (
       |  SELECT t.i, t.j,
       |    round(CAST(t.inter AS DOUBLE) / CAST(sa.sz + sb.sz - t.inter AS DOUBLE), 4) AS jac
       |  FROM inter t JOIN sz sa ON sa.doc_id = t.i JOIN sz sb ON sb.doc_id = t.j
       |  WHERE CAST(t.inter AS DOUBLE) / CAST(sa.sz + sb.sz - t.inter AS DOUBLE) >= $JaccardTau)""".stripMargin
  }

  /** Quantized embeddings (mirrors Similarity.quantize). */
  private val sqlQuantCte =
    "em AS (SELECT vec_id, embedding, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q FROM embeddings)"

  private val sqlCos =
    "(list_dot_product(a.q, b.q) / (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"

  private def sqlBucket(embExpr: String): String = sqlBucketDims(embExpr, LshDims)

  private def sqlBucketDims(embExpr: String, dims: Seq[Int]): String =
    dims.zipWithIndex.map { case (d, i) =>
      s"(CASE WHEN $embExpr[$d] >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** 4 bands × 4 hyperplanes for the multi-band LSH query — a candidate
    * qualifies on ANY band agreement (OR across bands oracle-side ==
    * union + dedup engine-side). One shared definition
    * ([[Similarity.DefaultLshBands]]) keeps query, oracle, and the
    * RECALL.md harness describing the same configuration.
    */
  private val LshBands: Seq[Seq[Int]] = Similarity.DefaultLshBands

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis ----

    "q_txt_tokens" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("toks", TA.tokens(col("text")))
      d.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(TA.nTokens(col("toks"))).as("total_tokens"),
        sum(TA.nDistinctTokens(col("toks"))).as("total_distinct"),
        sum(TA.nStopwords(col("toks"))).as("total_stop"),
        min(TA.nTokens(col("toks"))).cast("long").as("min_tokens"),
        max(TA.nTokens(col("toks"))).cast("long").as("max_tokens"))
    }),

    "q_txt_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("toks", TA.tokens(col("text")))
        .withColumn("band", floor(TA.qualityScore(col("toks")) * lit(10)))
      d.groupBy("source", "band").agg(count(lit(1)).as("n"))
    }),

    // Positional phrase search — the IR operator the cosine/BM25 bag-of-
    // words family cannot express ("these words, adjacent, in order"):
    // positional postings pruned to the THREE phrase terms at the scan
    // (the posting lists are term-selective — the corpus never joins),
    // then an anchor-position equi-join chain (pos = anchor + i, an
    // equi-key Catalyst recognizes — never a nested loop). Oracle is
    // INDEPENDENT: DuckDB counts regex matches of the whole phrase over
    // the raw text (word-boundary anchored), a completely different
    // algorithm that must agree occurrence for occurrence.
    "q_txt_phrase_search" -> ((s, dir) => {
      val phrase = Seq("stream", "table", "hash")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TA.tokens(col("text"))).as(Seq("pos", "token")))
        .filter(col("token").isin(phrase: _*))
      val anchors = toks.filter(col("token") === phrase.head)
        .select(col("doc_id"), col("pos"))
      val chain = phrase.zipWithIndex.tail.foldLeft(anchors) {
        case (acc, (w, i)) =>
          val ti = toks.filter(col("token") === w)
            .select(col("doc_id").as("__d"), col("pos").as("__p"))
          acc.join(ti, acc("doc_id") === col("__d") &&
              col("__p") === acc("pos") + i)
            .drop("__d", "__p")
      }
      chain.groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
    }),

    // Zipf slope of the corpus frequency spectrum — the macro corpus-
    // health number (natural text sits near −1; templated/synthetic
    // corpora flatten or steepen it): OLS of ln(freq) on ln(rank) over
    // the top-100 vocabulary. One vocab aggregate, top-k as
    // TakeOrderedAndProject, then every moment runs over ≤100 rows.
    // Determinism: ln values floor-quantized to integer micros per term
    // (order-free exact sums), the final slope one pinned division of
    // two BIGINT→DOUBLE casts (IEEE round-to-nearest is identical on
    // both engines).
    "q_txt_zipf" -> ((s, dir) => {
      val top = Tables.documents(s, dir)
        .select(explode(TA.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(100)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))
      val pts = top.withColumn("r", row_number().over(w))
        .select(floor(lit(1e6) * log(col("r").cast("double"))).cast("long").as("x"),
          floor(lit(1e6) * log(col("cnt").cast("double"))).cast("long").as("y"))
      pts.agg(count(lit(1)).as("n_terms"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"))
        .select(col("n_terms"),
          round((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_terms") * col("sx2") - col("sx") * col("sx")).cast("double"), 4)
            .as("slope"))
    }),

    // Per-doc token-distribution entropy (micro-nats) — the information-
    // density quality signal (low entropy ⇒ repetitive/templated text,
    // the complement of q_txt_repetition's dup-fraction view). Scale
    // shape: one explode + two partial+final aggregates keyed on doc_id
    // (co-partitioned — one exchange). Determinism: each −p·ln p term is
    // floor-quantized to integer micro-nats and the per-doc sum is an
    // exact Long, so the distributed sum is order-free (the BM25
    // integer-relevance discipline).
    "q_txt_entropy" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
      val counts = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      val totals = counts.groupBy("doc_id").agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_distinct"))
      counts.join(totals, "doc_id")
        .withColumn("term", floor(lit(1e6) *
          (col("cnt").cast("double") / col("n")) *
          log(col("n").cast("double") / col("cnt"))).cast("long"))
        .groupBy("doc_id").agg(max(col("n")).as("n_tokens"),
          max(col("n_distinct")).as("n_distinct"),
          sum(col("term")).as("entropy_u"))
    }),

    "q_txt_langid" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("toks", TA.tokens(col("text")))
        .withColumn("predicted", TA.predictedLang(col("toks")))
      d.groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    }),

    "q_txt_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("fp", TA.setFingerprint(TA.tokens(col("text"))))
        .groupBy(substring(col("fp"), 1, 2).as("prefix"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"))
    }),

    // Exact-substring duplicate detection (the suffix-array dedup family,
    // declaratively): pairs sharing a verbatim run of >= 12 tokens, with
    // the longest shared run. Positional 8-gram seeds blocked by equality,
    // corpus-relative stop-gram cap, diagonal-island chaining; the window
    // is per (pair, diagonal) — bounded by document length, never
    // corpus-wide.
    "q_dedup_substring" -> ((s, dir) => {
      Dedup.substringRuns(Tables.documents(s, dir), "doc_id", "text",
        gramTokens = 8, minRun = 12, stopGramFrac = 0.05)
    }),

    // Intra-document self-dedup: repeated 3-token segments within one doc
    // keep only their first occurrence — a pure per-row typed map, zero
    // shuffle at any scale (the deliberate contrast to the corpus-wide
    // boilerplate scrub). PlanShapeSpec pins the no-Exchange plan.
    "q_txt_selfdedup" -> ((s, dir) => {
      Dedup.selfDedup(Tables.documents(s, dir), "doc_id", "text", segTokens = 3)
    }),

    // Corpus-level boilerplate scrub (C4/RefinedWeb line-dedup shape over a
    // deterministic fixed-width segmenter): segments present in >= 2 docs
    // vanish from every doc; text reassembled in order. Two O(n) shuffles,
    // hot set broadcast, no pair work.
    "q_txt_boilerplate" -> ((s, dir) => {
      Dedup.boilerplateScrub(Tables.documents(s, dir), "doc_id", "text",
        segTokens = 5, dfThreshold = 2)
    }),

    "q_txt_tokens_bpe" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("toks", TA.tokens(col("text")))
      d.groupBy("lang").agg(
        sum(TA.nTokens(col("toks"))).as("ws_tokens"),
        sum(TA.bpePieceCount(col("text"))).as("bpe_pieces"))
    }),

    // BPE vocabulary TRAINING as distributed aggregation: one corpus
    // shuffle to the word-frequency table, then one scan + partial/final
    // pair-count aggregate per merge round; the driver holds only the
    // merge list. Oracle replays the data-dependent training in unrolled
    // SQL stages (see sqlBpeTrain).
    "q_txt_bpe_train" -> ((s, dir) => {
      val trained = TA.bpeTrain(Tables.documents(s, dir), "text", nMerges = 12)
      import s.implicits._
      trained.zipWithIndex
        .map { case ((l, r, c), i) => (i + 1L, l, r, c) }
        .toDF("rank", "merge_l", "merge_r", "cnt")
    }),

    // Corpus-trained bigram-LM fluency score per doc (integer-quantized
    // conditional probability mass) — the quality dimension a
    // perplexity filter uses, minus the non-portable float log.
    "q_txt_lm_score" -> ((s, dir) => {
      TA.bigramLmScore(Tables.documents(s, dir), "doc_id", "text")
    }),

    // Merge-table BPE (the real tokenizer): the piece checksum makes the
    // DuckDB recursive-CTE oracle replay every merge decision bit-for-bit.
    "q_txt_tokens_bpe2" -> ((s, dir) => {
      TA.bpeStats(Tables.documents(s, dir), "lang", "text")
        // wordless docs carry no pieces; dropping them here matches the
        // oracle's inner join, where a lang whose EVERY doc is wordless
        // yields no row at all
        .filter(col("n_words") > 0)
        .groupBy("lang")
        .agg(sum("n_words").as("n_words"), sum("n_pieces").as("n_pieces"),
          sum("piece_checksum").as("piece_checksum"))
    }),

    // Winnowed k-gram fingerprints: per-doc selection stats. The trailing-
    // window min rule is replayed exactly by the oracle's window frame.
    "q_txt_winnow" -> ((s, dir) => {
      TA.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text", k = 8, w = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
    }),

    "q_txt_rollinghash" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.rollingHash(col("text")).as("rhash"))
    }),

    // ---- deduplication ----

    // Exact dedup over a corpus with planted duplicates (every 10th doc
    // re-appears under a shifted id); groups with >1 copy are the dups.
    "q_dedup_exact" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Dedup.exact(d.union(planted), "doc_id", "text")
        .filter(col("n_copies") > 1)
        .select("content_hash", "kept_id", "n_copies")
    }),

    "q_dedup_jaccard" -> ((s, dir) => {
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, tau = JaccardTau, stopShingleFrac = StopFrac)
    }),

    "q_dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
    }),

    // Corpus duplication index — the one-number duplication health metric
    // a pipeline tracks per snapshot: E[pairwise Jaccard] estimated from
    // MinHash collision mass (P[min_a = min_b] = J(a,b), so the mean
    // per-permutation collision rate over all pairs IS the mean Jaccard).
    // One signature pass (O(1) per doc leaves the scan), per-permutation
    // value-collision counts (never a pair join — Σc(c−1)/2 counts all
    // colliding pairs from the group sizes), exact integers to one final
    // division. 16 permutations average down the estimator variance.
    "q_dedup_dupindex" -> ((s, dir) => {
      val sig = CacheRegistry.persist(Dedup.minhashSignaturesDirect(
        Tables.documents(s, dir), "doc_id", "text", n = 3, numHashes = 16))
      val pv = (0 until 16)
        .map(i => sig.select(lit(i).as("p"), col(s"h$i").as("v")))
        .reduce(_ unionAll _)
      val cm = pv.groupBy("p", "v").agg(count(lit(1)).as("c"))
        .agg(sum(expr("(c * (c - 1)) div 2")).as("cm"))
      val tot = sig.agg(count(lit(1)).as("n"))
      cm.crossJoin(tot).select(col("n").as("n_docs"),
        (round(col("cm").cast("double") / (lit(16.0) *
          (col("n").cast("double") * (col("n") - lit(1L)).cast("double") /
            lit(2.0))), 6) + lit(0.0)).as("dup_index"))
    }),

    // ASYMMETRIC containment over a corpus with planted sub-documents
    // (every 7th doc's first 120 chars re-appear under a shifted id):
    // directed (contained, container) pairs at containment >= 0.9. The
    // sub-document case — a short page living inside a long book —
    // symmetric Jaccard misses because its union denominator is dominated
    // by the longer side.
    "q_dedup_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"),
          substring(col("text"), 1, 120).as("text"))
      Dedup.containmentPairs(docs.union(planted), "doc_id", "text",
        n = 3, tau = 0.9, stopShingleFrac = StopFrac)
    }),

    // SimHash near-dup distance histogram. maxDist=6 makes the banded pair
    // scan (7 exact bands, equi-join candidates) both correct and sparse —
    // the oracle states the plain all-pairs semantics the banding is
    // provably equal to.
    "q_dedup_simhash" -> ((s, dir) => {
      val sk = Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
      Dedup.simhashPairs(sk, "doc_id", maxDist = 6)
        .groupBy("dist").agg(count(lit(1)).as("n_pairs"))
    }),

    // Dedup APPLIED: the surviving corpus after dropping the higher-id
    // member of every near-dup pair (union of Jaccard pairs' j sides,
    // removed with a broadcast anti join).
    "q_dedup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val drop = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = JaccardTau,
          stopShingleFrac = StopFrac)
        .select(col("j").as("doc_id")).distinct()
      docs.join(drop, Seq("doc_id"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"))
    }),

    // End-to-end curation, cheap-and-selective work FIRST: lang + quality
    // filters prune the corpus before any pair work, then near-dups among
    // the survivors come from the banded MinHash+LSH path (candidates-only
    // verify), not an exact all-candidate Jaccard. At 100 TB the filter
    // order and the LSH path are each the difference between a feasible
    // job and an infeasible one.
    "q_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("toks", TA.tokens(col("text")))
      val kept = docs
        .filter(TA.predictedLang(col("toks")) === "en")
        .filter(TA.qualityScore(col("toks")) >= lit(0.5))
      val drop = Dedup.minhashLshPairs(kept, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
        .select(col("j").as("doc_id")).distinct()
      kept.join(drop, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.nTokens(col("toks"))).as("total_tokens"))
    }),

    // THE WHOLE PIPELINE, one lazy plan: quality/lang gate -> benchmark
    // decontamination -> LSH near-dup removal -> deterministic split ->
    // token accounting. Stage order is the scale design: the cheap
    // per-row gates prune BEFORE any pair work, the benchmark shingle set
    // and the flagged/dup id sets ride as broadcasts (corpus side never
    // shuffles for a removal), and the split is a pure expression in the
    // final scan. Catalyst fuses the per-row stages into the scans —
    // exactly what composing these operators is supposed to buy.
    "q_pipeline_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("toks", TA.tokens(col("text")))
      val kept = docs
        .filter(col("source") =!= "src0")
        .filter(TA.predictedLang(col("toks")) === "en")
        .filter(TA.qualityScore(col("toks")) >= lit(0.5))
      // hashed shingle keys — see q_contamination (r16)
      val bench = Dedup.shingles(docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5)
        .select(xxhash64(col("shingle")).as("shingle")).distinct()
      val flagged = Dedup.shingles(kept, "doc_id", "text", n = 5)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        .join(broadcast(bench), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 3)
        .select("doc_id")
      val clean = kept.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      val drop = Dedup.minhashLshPairs(clean, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
        .select(col("j").as("doc_id")).distinct()
      clean.join(broadcast(drop), Seq("doc_id"), "left_anti")
        .withColumn("split", Sampling.split(col("doc_id")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.nTokens(col("toks"))).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // Incremental dedup: a new crawl batch (the newest 20% of arrival-
    // ordered ids; boundary from one metadata aggregate, the deriveBlocks
    // pattern) deduped against the already-indexed corpus. Candidate
    // volume is O(corpus x delta), never a full re-dedup.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      Dedup.minhashLshPairsDelta(docs, "doc_id", "text",
        deltaFrom = (maxId + 1) * 4 / 5,
        n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
    }),

    // Top-fraction curation: keep exactly the top 30% of documents by
    // quality, rank-based with an integer tie-break (score desc, doc_id)
    // — NO float threshold compare anywhere, so a 1-ulp percentile
    // divergence between engines can never flip a boundary doc. Scores
    // are micro-unit integers (bit-identical doubles -> identical
    // rounding); k comes from one count aggregate (column-pruned — no
    // text read); selection is orderBy+limit = TakeOrderedAndProject.
    "q_curation_topfrac" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("toks", TA.tokens(col("text")))
        .withColumn("score_i",
          round(TA.qualityScore(col("toks")) * lit(1000000.0)).cast("long"))
      val k = d.count() * 3 / 10
      d.orderBy(col("score_i").desc, col("doc_id")).limit(k.toInt)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(TA.nTokens(col("toks")).cast("long")).as("kept_tokens"))
    }),

    // Histogram-driven curation cut: the "drop the bottom ~30% by quality"
    // threshold derived from the 256-bin SKETCH of quantized scores — no
    // sort, no exact rank (the contrast to q_curation_topfrac's exact
    // top-k): one metadata aggregate for [lo, hi], one binned count, a
    // 256-row driver-side cumulative walk picks the threshold bin, and the
    // apply pass is `bin > b*` riding the scan. Resolution is one bin —
    // stated sketch semantics, deterministic on both engines.
    "q_curation_histcut" -> ((s, dir) => {
      import graft.functions.Histogram
      import graft.ops.CacheRegistry
      // persisted: the tokenize+score projection feeds three actions
      // (min/max metadata agg, bin counts, the final aggregate)
      val d = CacheRegistry.persist(Tables.documents(s, dir)
        .withColumn("toks", TA.tokens(col("text")))
        .withColumn("score_i",
          round(TA.qualityScore(col("toks")) * lit(1000000.0)).cast("long")))
      val r = d.agg(min(col("score_i")), max(col("score_i"))).head()
      val (lo, hi) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
      val binned = d.withColumn("bin",
        Histogram.bin(col("score_i").cast("double"), lo, hi, 256))
      val bins = binned.groupBy("bin").agg(count(lit(1)).as("cnt"))
        .collect().map(x => (x.getInt(0), x.getLong(1))).sortBy(_._1)
      val n = bins.map(_._2).sum
      // cumulative walk as an explicit scan — no mutation inside a
      // pattern guard (whose evaluation count is a stdlib detail)
      val bStar = bins.zip(bins.scanLeft(0L)(_ + _._2).tail)
        .collectFirst { case ((b, _), cum) if cum * 100 >= 30 * n => b }.get
      binned.filter(col("bin") > bStar)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(TA.nTokens(col("toks")).cast("long")).as("kept_tokens"))
    }),

    // Cluster-granular dedup: LSH pairs -> connected components -> one
    // canonical survivor per component (min id). The oracle replays the
    // closure with a recursive CTE.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
      Dedup.dedupClusters(pairs)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
    }),

    // LEAKAGE-SAFE train/val/test split: the hash split keys off the
    // near-dup CLUSTER representative, not the document, so two near-
    // duplicates can never straddle train and test (the eval-leakage
    // failure a doc-level split permits by construction). n_moved counts
    // docs whose naive doc-level assignment differed — the leakage the
    // operator prevented. Cluster membership covers only the duplicate
    // subset, so the label join broadcasts; everything else is the same
    // pure per-row split expression as q_sample_split.
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
      val lab = Dedup.dedupClusters(pairs).withColumnRenamed("id", "doc_id")
      docs.join(broadcast(lab), Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
        .withColumn("split", Sampling.split(col("rep"), salt = "leak"))
        .withColumn("naive", Sampling.split(col("doc_id"), salt = "leak"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_groups"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("naive") =!= col("split"), 1L).otherwise(0L)).as("n_moved"))
    }),

    // Stratified sampling with EXACT largest-remainder allocation — the
    // per-language budget split a balanced eval/calibration set needs:
    // alloc_h = floor(B·N_h/N) plus +1 for the `leftover` strata with the
    // largest SCALED remainder B·N_h − base_h·N (the fraction never
    // appears — pure integers, deterministic tie-break on lang). The
    // per-stratum take is the alloc_h SMALLEST seeded-md5 keys
    // (reproducible under reruns and data growth, the
    // q_sample_permutation key) — selected with the MERGEABLE map-side
    // top-K aggregate at k = B (a superset of every alloc_h ≤ B), never
    // a per-stratum rank window, which would global-sort each stratum in
    // one task at 100 TB. The ≤B-row selection broadcasts back onto the
    // corpus for the census, which pins sample membership via the
    // sampled char sum. Strata-frame windows partition by a constant
    // (config-scale rows only).
    "q_sample_budget_alloc" -> ((s, dir) => {
      // budget below every fixture's corpus size so the sample is a real
      // subset at sf0.01 too (B > N degenerates to take-everything)
      val B = 200
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("nh"))
      val withTot = counts
        .crossJoin(broadcast(counts.agg(sum(col("nh")).as("n"))))
        .withColumn("base", expr(s"($B * nh) div n"))
        .withColumn("rem", lit(B.toLong) * col("nh") - col("base") * col("n"))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(0)).orderBy(col("rem").desc, col("lang"))
      val alloc = withTot
        .withColumn("rk", row_number().over(wl))
        .crossJoin(broadcast(
          withTot.agg((lit(B.toLong) - sum(col("base"))).as("leftover"))))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
        .select("lang", "nh", "alloc")
      // hk ∈ [0, 2^60) so the negation (topK keeps LARGEST v) is safe
      val sel = docs
        .select(col("lang"),
          (-graft.functions.Hashing.md5LongSeeded(
            col("doc_id").cast("string"), 7)).as("nv"), col("doc_id"))
        .groupBy("lang")
        .agg(graft.functions.TopK.topK(col("nv"), col("doc_id"), B).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), col("pos").cast("long").as("pos"),
          col("col._2").as("doc_id"))
        .join(broadcast(alloc.select("lang", "alloc")), "lang")
        .filter(col("pos") < col("alloc"))
        .select("lang", "doc_id")
      docs.join(broadcast(sel), Seq("lang", "doc_id"), "left_semi")
        .groupBy("lang")
        .agg(count(lit(1)).as("taken"), sum(col("n_chars")).as("sample_chars"))
        .join(broadcast(alloc), "lang")
        .select("lang", "nh", "alloc", "taken", "sample_chars")
    }),

    // k-fold cross-validation assignment — the evaluation-protocol
    // sibling of the train/val/test split: a pure per-row hash bucket
    // (no RNG, stable under reruns and data growth) with a per-fold
    // per-lang census as the balance readout a CV harness checks before
    // trusting fold variance.
    "q_sample_kfold" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("fold", Sampling.hashBucket(col("doc_id"), 5, "cv"))
        .groupBy("fold", "lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    }),

    // Deterministic training-data shuffle: a seeded md5 permutation key
    // plus Ids.contiguous gives every document a stable shuffle position
    // — reproducible epoch ordering across runs and cluster sizes, the
    // property RNG-based shuffles lose the moment partitioning changes.
    // doc_id is the tie-break (md5 ties are astronomically unlikely but
    // the order contract must be total, not probabilistic).
    "q_sample_permutation" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.Hashing.md5LongSeeded(
          col("doc_id").cast("string"), 42).as("hk"))
      graft.ops.Ids.contiguous(keyed, Seq("hk", "doc_id"), numParts = 8)
        .select(col("doc_id"), col("gid").as("shuffle_pos"))
    }),

    // Contiguous export ids in key order — the training-shard primitive,
    // WITHOUT row_number's single-task global window: range partition +
    // local sort + per-partition offset prefix sums (Ids.contiguous).
    // The oracle IS the global window form — the two must agree exactly,
    // which is the operator's correctness claim.
    "q_export_global_ids" -> ((s, dir) =>
      graft.ops.Ids.contiguous(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", numParts = 8)),

    // MATERIALIZED dedup labels — the deployment shape for the whole
    // cluster-consumer family: the expensive LSH → connected-components
    // derivation runs ONCE and lands as a (doc_id, rep) parquet artifact;
    // every downstream consumer (dedup-apply survivor selection, survivor
    // stats, leakage-safe split assignment — all three folded into this
    // census) broadcast-joins the config-scale label table instead of
    // recomputing the pair pipeline. At 100 TB this is the difference
    // between one LSH job per snapshot and one per consumer; the label
    // artifact is duplicate-subset-sized, so the join broadcasts.
    // A spec pins the consumer plan: parquet label scan + broadcast join,
    // zero shingle/minhash machinery.
    "q_dedup_labels_materialized" -> ((s, dir) => {
      val lab = s.read.parquet(dedupLabelsArtifact(s, dir))
      val docs = Tables.documents(s, dir)
      docs.join(broadcast(lab), Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("rep"), col("doc_id")))
        .withColumn("split", Sampling.split(col("rep"), salt = "leak"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_groups"),
          sum(when(col("doc_id") === col("rep"), 1L).otherwise(0L))
            .as("n_survivors"),
          sum(when(col("doc_id") === col("rep"), col("n_chars"))
            .otherwise(0L)).as("survivor_chars"))
    }),

    // Quality-aware dedup: the survivor of each duplicate cluster is the
    // HIGHEST-QUALITY member, not the lowest id — the retention policy a
    // curation pipeline actually wants (dedup should discard the worse
    // copy). Clusters from the LSH path; survivor by integer-quantized
    // quality with a doc_id tie-break; the per-cluster window is bounded
    // by cluster size, never corpus-wide.
    "q_dedup_quality_survivor" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("toks", TA.tokens(col("text")))
        .withColumn("score_i",
          round(TA.qualityScore(col("toks")) * lit(1000000.0)).cast("long"))
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, tau = JaccardTau)
      val clusters = Dedup.dedupClusters(pairs)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster").orderBy(col("score_i").desc, col("id"))
      clusters
        .join(docs.select(col("doc_id").as("id"), col("score_i")), Seq("id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("id").as("survivor_id"),
          col("score_i").as("survivor_score"))
    }),

    // blocks auto-derived from corpus stats (memory ceiling + parallelism
    // floor) — the call site carries no scale-sensitive constant
    "q_dedup_embed_cosine" -> ((s, dir) => {
      Similarity.cosinePairsBlocked(Tables.embeddings(s, dir), "vec_id", "embedding",
        tau = CosineTau)
    }),

    // Mean-pooled embedding per bucket — elementwise centroid aggregation
    // with map-side partials (no corpus explode).
    "q_emb_meanpool" -> ((s, dir) => {
      Similarity.meanPool(Tables.embeddings(s, dir), col("vec_id") % 8, "embedding")
    }),

    // ---- similarity search ----

    "q_sim_topk" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(em, em.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
    }),

    // Filtered ANN: top-k within a metadata slice (the hybrid-search shape —
    // predicate + similarity compose). The label filter prunes the corpus
    // BEFORE the scoring kernel, so candidate volume shrinks with filter
    // selectivity; at scale the filter rides the corpus scan (pushdown),
    // not a post-score discard.
    "q_sim_filtered" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(em.filter(col("label") === 3),
        em.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    }),

    "q_sim_ivf" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.ivfTopK(em, em.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nCentroids = 16)
    }),

    // nprobe=2: each query scans its two nearest cells — the IVF recall
    // dial; candidate volume doubles, still ~2n/nCentroids per query.
    "q_sim_ivf_nprobe" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.ivfTopK(em, em.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nCentroids = 16, nprobe = 2)
    }),

    "q_sim_lsh_bucket" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.lshTopK(em, em.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = LshDims)
    }),

    "q_sim_lsh_bands" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      Similarity.lshTopKBands(em, em.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, bands = LshBands)
    }),

    // ---- multimodal ----

    // Full multimodal stage chain: binary media -> resize -> frame-sample ->
    // per-modality accounting. Stub transforms are deterministic byte
    // arithmetic, so the oracle is closed-form.
    "q_mm_pipeline" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(Tables.documents(s, dir))
      val resized = Multimodal.resizeStub(s, media, w = 16, h = 16)
      val frames = Multimodal.frameSampleStub(s,
        resized.toDF().select("doc_id", "kind", "media"), frameBytes = 64, stride = 2)
      frames.toDF()
        .join(media.select(col("doc_id"), col("kind")), "doc_id")
        .groupBy("kind")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_frames"),
          sum(length(col("frame"))).as("total_frame_bytes"))
    }),

    // REAL codec decode (MediaCodec): synthesize PNG/WAV/PNG-container
    // payloads whose pixel/sample values are closed-form in doc_id, then
    // decode them with javax.imageio / javax.sound.sampled and census the
    // DECODED content. The oracle recomputes the features from the formula
    // alone, so a hash match proves the codec round-trip is exact.
    "q_mm_features" -> ((s, dir) => {
      val media = MediaCodec.mediaTable(s, Tables.documents(s, dir))
      MediaCodec.decodeFeatures(s, media).toDF()
        .groupBy("kind").agg(
          count(lit(1)).as("n"),
          sum(col("n_units")).as("total_units"),
          sum(col("feat")).as("total_feat"),
          min(col("feat")).as("min_feat"),
          max(col("feat")).as("max_feat"))
    }),

    // MATERIALIZED media artifact consumer — the deployment shape at
    // 100 TB: media bytes land in parquet ONCE per corpus snapshot (the
    // dedup-labels / knn-edges pattern) and every decode pass scans the
    // artifact instead of re-synthesizing payloads. The per-query encode
    // variants above stay as the bench-discipline reading (they price
    // the full encode+decode pipeline); this query prices what repeat
    // consumers actually pay — artifact scan + decode. Same aggregate,
    // same oracle as q_mm_features: the artifact IS the media table.
    "q_mm_features_materialized" -> ((s, dir) => {
      import s.implicits._
      val media = s.read.parquet(mediaArtifact(s, dir))
        .as[Multimodal.MediaRecord]
      MediaCodec.decodeFeatures(s, media).toDF()
        .groupBy("kind").agg(
          count(lit(1)).as("n"),
          sum(col("n_units")).as("total_units"),
          sum(col("feat")).as("total_feat"),
          min(col("feat")).as("min_feat"),
          max(col("feat")).as("max_feat"))
    }),

    // Multimodal -> embedding loop closed: media -> resize -> frame-sample
    // -> per-frame pseudo-embedding (stub encoder, deterministic byte
    // folds) -> per-doc elementwise floor-mean pooling -> per-modality
    // aggregate. Every stage is the production operator shape; only the
    // encoder body is stubbed.
    // The full multimodal RETRIEVAL chain: media -> resize -> frame-sample
    // -> embed -> mean-pool -> similarity search against a probe document.
    // Scores are integer dot products over the pooled vectors (exact on
    // both engines; the per-dim join — not an array zip — keeps ragged
    // vectors correct: docs with missing trailing dims score over the
    // shared dims). Probe side is <= 8 rows, broadcast; top-k via
    // TakeOrdered with a doc_id tie-break.
    // Frame-level exact dedup — the video-pipeline step that strips
    // repeated keyframes/stills before embedding compute is spent on
    // them: sample frames (the stub slicer; a real codec slots into the
    // same seam), hash the payload bytes, census the duplicate groups.
    // The Spark-side plumbing (binary frames, one-to-many flatMap,
    // hash-groupBy) is the production shape; only the slicer is fake.
    "q_mm_frame_dedup" -> ((s, dir) => {
      // REAL video-frame dedup: demux the PNG container, ImageIO-decode
      // each keyframe, hash the canonical DECODED pixel bytes (equality ==
      // pixel equality, independent of encoder bytes), census duplicate
      // groups. The oracle groups by the content seed — md5 classes match
      // seed classes iff the decode is exact.
      val media = MediaCodec.mediaTable(s, Tables.documents(s, dir), only = Some("video"))
      val g = MediaCodec.decodedFrames(s, media).toDF()
        .groupBy(col("px_md5")).agg(count(lit(1)).as("c"))
      g.agg(sum(col("c")).as("n_frames"), count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_frames"),
        max(col("c")).as("max_group"))
    }),

    // Audio VAD chunking (STUB decode, real plumbing) — the speech-
    // pipeline step that keeps only voiced segments before ASR/embedding
    // compute: fixed-size frames, per-frame integer energy (the
    // deterministic stand-in for RMS over PCM), threshold census per
    // clip. The one-to-many flatMap is the same seam as the frame
    // slicer; a real decoder + VAD model slots in per partition.
    "q_mm_audio_vad" -> ((s, dir) => {
      // REAL WAV decode via javax.sound.sampled: PCM s16le samples out of
      // the RIFF payload, 256-sample chunks, integer energy = sum |sample|,
      // voiced = energy above 1024/sample (the mean-|uniform| midline).
      val media = MediaCodec.mediaTable(s, Tables.documents(s, dir), only = Some("audio"))
      MediaCodec.vadChunks(s, media, chunkSamples = 256).toDF()
        .withColumn("voiced", col("energy") > lit(1024L) * col("n_samples"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("voiced"), 1L).otherwise(0L)).as("n_voiced"),
          sum(when(col("voiced"), col("n_samples")).otherwise(0L)).as("voiced_samples"),
          max(col("energy")).as("max_energy"))
    }),

    // Scene-cut detection (STUB decode, real plumbing) — the video-
    // curation step that segments a clip before per-scene sampling is
    // spent: ordered fixed-size frames, per-frame integer energy (the
    // byte-sum stand-in for a real frame histogram — embedStub at
    // dim = 1), a CUT wherever the adjacent-frame delta exceeds the
    // threshold. The lag window is per-clip frame-count-bounded, never
    // corpus-wide; a real codec slots into the same 1→N flatMap seam.
    "q_mm_scenecut" -> ((s, dir) => {
      // REAL scene-cut: demux + ImageIO-decode keyframes, per-frame energy
      // = decoded pixel-value sum, a CUT where the adjacent-frame delta
      // exceeds 1800 (≈ the corpus median delta — see MediaCodec seeds).
      // The lag window is per-clip frame-count-bounded, never corpus-wide.
      val media = MediaCodec.mediaTable(s, Tables.documents(s, dir), only = Some("video"))
      val fe = MediaCodec.decodedFrames(s, media).toDF()
        .select(col("doc_id"), col("frame_idx"), col("energy"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_idx")
      fe.withColumn("delta", abs(col("energy") - lag(col("energy"), 1).over(w)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("delta") > 1800L, 1L).otherwise(0L)).as("n_cuts"),
          max(coalesce(col("delta"), lit(0L))).as("max_delta"))
    }),

    "q_mm_search" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(Tables.documents(s, dir))
      val resized = Multimodal.resizeStub(s, media, w = 16, h = 16)
        .toDF().select("doc_id", "kind", "media")
      val frames = Multimodal.frameSampleStub(s, resized, frameBytes = 64, stride = 2)
      val fe = Multimodal.embedStub(s, frames.toDF(), dim = 8).toDF()
      val pooled = fe.groupBy(col("doc_id"), col("dim"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("pv"))
      val probe = pooled.filter(col("doc_id") === 0)
        .select(col("dim"), col("pv").as("qv"))
      pooled.filter(col("doc_id") =!= 0)
        .join(broadcast(probe), Seq("dim"))
        .groupBy("doc_id")
        .agg(sum(col("pv") * col("qv")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    "q_mm_embed" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(Tables.documents(s, dir))
      val resized = Multimodal.resizeStub(s, media, w = 16, h = 16)
        .toDF().select("doc_id", "kind", "media")
      val frames = Multimodal.frameSampleStub(s, resized, frameBytes = 64, stride = 2)
      val fe = Multimodal.embedStub(s, frames.toDF(), dim = 8).toDF()
      val pooled = fe.groupBy(col("doc_id"), col("dim"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("pv"))
      pooled
        .withColumn("dim", col("dim").cast("long")) // oracle's % yields BIGINT
        .withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video"))
        .groupBy("kind", "dim")
        .agg(count(lit(1)).as("n_docs"), sum(col("pv")).as("sum_pv"))
    })
  )

  val oracles: Map[String, String] = {
    val t = TA
    Map(
      "q_txt_tokens" ->
        s"""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(${t.sqlNTokens}) AS BIGINT) AS total_tokens,
           |  CAST(sum(${t.sqlNDistinct}) AS BIGINT) AS total_distinct,
           |  CAST(sum(${t.sqlNStop}) AS BIGINT) AS total_stop,
           |  min(${t.sqlNTokens}) AS min_tokens,
           |  max(${t.sqlNTokens}) AS max_tokens
           |FROM documents GROUP BY 1""".stripMargin,

      "q_txt_quality" ->
        s"""SELECT source, CAST(floor(${t.sqlQualityScore} * 10) AS BIGINT) AS band, count(*) AS n
           |FROM documents GROUP BY 1, 2""".stripMargin,

      // independent oracle: regex match count over the raw text (word-
      // boundary anchored; the three distinct words cannot overlap, so
      // non-overlapping regex scanning counts every occurrence)
      "q_txt_phrase_search" ->
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text,
          |    '\bstream table hash\b')) AS BIGINT) AS n_occ
          |FROM documents
          |WHERE len(regexp_extract_all(text, '\bstream table hash\b')) > 0""".stripMargin,

      "q_txt_zipf" ->
        """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token
          |  FROM documents),
          |v AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1
          |  ORDER BY cnt DESC, token LIMIT 100),
          |p AS (SELECT
          |    CAST(floor(1e6 * ln(CAST(row_number() OVER
          |      (ORDER BY cnt DESC, token) AS DOUBLE))) AS BIGINT) AS x,
          |    CAST(floor(1e6 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
          |  FROM v),
          |m AS (SELECT count(*) AS n_terms, CAST(sum(x) AS BIGINT) AS sx,
          |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
          |    CAST(sum(x * x) AS BIGINT) AS sx2 FROM p)
          |SELECT n_terms,
          |  round(CAST(n_terms * sxy - sx * sy AS DOUBLE)
          |    / CAST(n_terms * sx2 - sx * sx AS DOUBLE), 4) AS slope
          |FROM m""".stripMargin,

      "q_txt_entropy" ->
        """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |  FROM documents),
          |c AS (SELECT doc_id, token, count(*) AS cnt FROM tk GROUP BY 1, 2),
          |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
          |    count(*) AS n_distinct FROM c GROUP BY 1)
          |SELECT c.doc_id, max(n) AS n_tokens, max(n_distinct) AS n_distinct,
          |  CAST(sum(CAST(floor(1e6 * (CAST(cnt AS DOUBLE) / n)
          |    * ln(CAST(n AS DOUBLE) / cnt)) AS BIGINT)) AS BIGINT) AS entropy_u
          |FROM c JOIN tot ON c.doc_id = tot.doc_id
          |GROUP BY 1""".stripMargin,

      "q_txt_langid" ->
        s"""SELECT lang, ${t.sqlPredictedLang()} AS predicted, count(*) AS n
           |FROM documents GROUP BY 1, 2""".stripMargin,

      "q_txt_fingerprint" ->
        s"""SELECT substring(${t.sqlSetFingerprint}, 1, 2) AS prefix,
           |  count(*) AS n_docs, count(DISTINCT ${t.sqlSetFingerprint}) AS n_distinct_fp
           |FROM documents GROUP BY 1""".stripMargin,

      "q_txt_tokens_bpe" ->
        s"""SELECT lang,
           |  CAST(sum(${t.sqlNTokens}) AS BIGINT) AS ws_tokens,
           |  CAST(sum(len(regexp_extract_all(text, '${t.BpePattern}'))) AS BIGINT) AS bpe_pieces
           |FROM documents GROUP BY 1""".stripMargin,

      // cap = max(2, floor(nDocs * 0.05)): floor, not CAST (DuckDB CAST
      // rounds; Scala .toLong truncates).
      "q_dedup_substring" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |grams AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
          |  FROM toks, unnest(generate_series(1, len(t)-7)) AS g(i)),
          |cap AS (SELECT GREATEST(2, CAST(floor(count(DISTINCT doc_id) * 0.05) AS BIGINT)) AS c
          |  FROM documents),
          |hot AS (SELECT gram FROM grams, cap GROUP BY gram, c
          |  HAVING count(DISTINCT doc_id) > c),
          |kept AS (SELECT * FROM grams WHERE gram NOT IN (SELECT gram FROM hot)),
          |seeds AS (SELECT a.doc_id AS i, b.doc_id AS j, a.pos AS pa,
          |    a.pos - b.pos AS diag
          |  FROM kept a JOIN kept b USING (gram) WHERE a.doc_id < b.doc_id),
          |isl AS (SELECT i, j, diag,
          |    pa - row_number() OVER (PARTITION BY i, j, diag ORDER BY pa) AS island
          |  FROM seeds),
          |runs AS (SELECT i, j, count(*) + 7 AS run FROM isl GROUP BY i, j, island)
          |SELECT i, j, max(run) AS max_run FROM runs
          |GROUP BY 1, 2 HAVING max(run) >= 12""".stripMargin,

      "q_txt_selfdedup" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |segs AS (SELECT doc_id, i - 1 AS seg_idx,
          |    array_to_string(t[(i-1)*3+1:i*3], ' ') AS seg,
          |    len(t[(i-1)*3+1:i*3]) AS n_seg_tokens
          |  FROM toks, unnest(generate_series(1, CAST(ceil(len(t)/3.0) AS BIGINT))) AS g(i)),
          |f AS (SELECT *, row_number() OVER (PARTITION BY doc_id, seg
          |        ORDER BY seg_idx) AS rn FROM segs)
          |SELECT doc_id,
          |  string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx) AS scrubbed,
          |  CAST(sum(CASE WHEN rn = 1 THEN n_seg_tokens ELSE 0 END) AS BIGINT) AS n_kept_tokens,
          |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_segs
          |FROM f GROUP BY 1""".stripMargin,

      "q_txt_boilerplate" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |segs AS (SELECT doc_id, i - 1 AS seg_idx,
          |    array_to_string(t[(i-1)*5+1:i*5], ' ') AS seg,
          |    len(t[(i-1)*5+1:i*5]) AS n_seg_tokens
          |  FROM toks, unnest(generate_series(1, CAST(ceil(len(t)/5.0) AS BIGINT))) AS g(i)),
          |hot AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 2),
          |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM hot))
          |SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS scrubbed,
          |  CAST(sum(n_seg_tokens) AS BIGINT) AS n_kept_tokens
          |FROM kept GROUP BY 1""".stripMargin,

      "q_txt_bpe_train" -> sqlBpeTrain(12),

      "q_txt_lm_score" ->
        """WITH big AS (
          |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
          |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |       unnest(generate_series(1, len(t)-1)) AS u(i)),
          |c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
          |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
          |r AS (SELECT c2.w1, c2.w2, CAST((c2.c2 * 1000000) // c1.c1 AS BIGINT) AS r
          |      FROM c2 JOIN c1 USING (w1))
          |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(r) AS BIGINT) AS lm_score
          |FROM big JOIN r USING (w1, w2)
          |GROUP BY 1""".stripMargin,

      // independent replay of the merge loop: a recursive CTE segments each
      // DISTINCT word (merge best rank, leftmost on ties, until none applies)
      // and the per-piece md5 checksum pins the exact segmentation
      "q_txt_tokens_bpe2" ->
        s"""WITH RECURSIVE
           |m(rank, l, r) AS (VALUES $sqlBpeMerges),
           |w0 AS (SELECT lang, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS w
           |       FROM documents),
           |wi AS (SELECT lang, lower(w) AS word FROM w0),
           |uw AS (SELECT DISTINCT word FROM wi),
           |bpe AS (
           |  SELECT word, string_split(word, '') AS toks FROM uw
           |  UNION ALL
           |  SELECT word,
           |    toks[1:struct_extract(best,'i')-1]
           |      || [toks[struct_extract(best,'i')] || toks[struct_extract(best,'i')+1]]
           |      || toks[struct_extract(best,'i')+2:]
           |  FROM (
           |    SELECT word, toks,
           |      (SELECT min({'r': m.rank, 'i': i})
           |       FROM unnest(generate_series(1, len(toks)-1)) AS t(i)
           |       JOIN m ON m.l = toks[i] AND m.r = toks[i+1]) AS best
           |    FROM bpe) s
           |  WHERE best IS NOT NULL),
           |fin AS (
           |  SELECT word, toks FROM bpe b
           |  WHERE (SELECT count(*)
           |         FROM unnest(generate_series(1, len(toks)-1)) AS t(i)
           |         JOIN m ON m.l = toks[i] AND m.r = toks[i+1]) = 0),
           |stats AS (
           |  SELECT word, len(toks) AS np,
           |    (SELECT CAST(sum((('0x' || substring(md5(p),1,15))::BIGINT) % 1000003)
           |            AS BIGINT)
           |     FROM unnest(toks) AS u(p)) AS cks
           |  FROM fin)
           |SELECT lang, count(*) AS n_words,
           |  CAST(sum(s.np) AS BIGINT) AS n_pieces,
           |  CAST(sum(s.cks) AS BIGINT) AS piece_checksum
           |FROM wi JOIN stats s USING (word)
           |GROUP BY 1""".stripMargin,

      "q_txt_winnow" ->
        s"""WITH g AS (
           |  SELECT doc_id, i AS pos,
           |    ${Hashing.sqlMd5Long("substring(text, CAST(i AS INT), 8)")} AS h
           |  FROM documents, unnest(generate_series(1, len(text) - 7)) AS t(i)),
           |sel AS (
           |  SELECT doc_id, pos, h,
           |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
           |  FROM g)
           |SELECT doc_id, count(*) AS n_fp, count(DISTINCT h) AS n_distinct_fp,
           |  min(h) AS min_fp, max(h) AS max_fp
           |FROM sel WHERE h = wmin GROUP BY 1""".stripMargin,

      "q_txt_rollinghash" ->
        s"""WITH RECURSIVE pows(k, v) AS (
           |  SELECT 0, 1::BIGINT
           |  UNION ALL SELECT k + 1, (v * ${t.RollBase}) % ${t.RollMod} FROM pows WHERE k < 65536),
           |guard AS (
           |  SELECT max(len(text)) AS maxlen FROM documents),
           |chars AS (
           |  SELECT doc_id, len(text) AS n, i, ord(substring(text, CAST(i AS INT), 1)) AS c
           |  FROM documents, unnest(generate_series(1, len(text))) AS u(i))
           |SELECT doc_id,
           |  CAST(sum(c * p.v) % ${t.RollMod} AS BIGINT) AS rhash
           |FROM chars JOIN pows p ON p.k = n - i,
           |     guard
           |WHERE guard.maxlen <= 65536 OR error('rollinghash power table too small')
           |GROUP BY doc_id""".stripMargin,

      "q_dedup_exact" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
          |SELECT md5(text) AS content_hash, min(doc_id) AS kept_id, count(*) AS n_copies
          |FROM corpus GROUP BY 1 HAVING count(*) > 1""".stripMargin,

      "q_dedup_jaccard" ->
        s"""WITH ${sqlGuardedShingleCtesFrom("documents")}
           |SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter,
           |  round(CAST(count(*) AS DOUBLE) / CAST(sa.sz + sb.sz - count(*) AS DOUBLE), 4) AS jac
           |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |JOIN sz sa ON sa.doc_id = a.doc_id
           |JOIN sz sb ON sb.doc_id = b.doc_id
           |GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
           |HAVING CAST(count(*) AS DOUBLE) / CAST(sa.sz + sb.sz - count(*) AS DOUBLE) >= $JaccardTau""".stripMargin,

      "q_dedup_minhash_lsh" ->
        s"""WITH ${sqlLshPairCtesFrom("documents")}
           |SELECT i, j, jac FROM lshpairs""".stripMargin,

      "q_dedup_dupindex" -> {
        val minExprs = (0 until 16).map(s =>
          s"min((${Hashing.minhashA(s)} * hx + ${Hashing.minhashB(s)}) % ${Hashing.MinhashP}) AS h$s")
          .mkString(",\n  ")
        val pvRows = (0 until 16)
          .map(i => s"SELECT $i AS p, h$i AS v FROM sig")
          .mkString("\n  UNION ALL ")
        s"""WITH ${sqlShingleCtesFrom("documents")},
           |hashed AS (SELECT doc_id, ${Hashing.sqlMd5Long("shingle")} % ${Hashing.MinhashP} AS hx FROM sh),
           |sig AS (SELECT doc_id,
           |  $minExprs
           |  FROM hashed GROUP BY doc_id),
           |pv AS (
           |  $pvRows),
           |coll AS (SELECT p, v, count(*) AS c FROM pv GROUP BY 1, 2),
           |s AS (SELECT CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS cm FROM coll),
           |tot AS (SELECT count(*) AS n FROM sig)
           |SELECT n AS n_docs,
           |  round(CAST(cm AS DOUBLE) / (16.0 * (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 2.0)), 6) + 0.0 AS dup_index
           |FROM s, tot""".stripMargin
      },

      "q_dedup_containment" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 2000000, substring(text, 1, 120)
           |  FROM documents WHERE doc_id % 7 = 0),
           |${sqlGuardedShingleCtesFrom("corpus")},
           |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
           |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pb AS (SELECT t.i, t.j, t.inter, sa.sz AS sz_i, sb.sz AS sz_j
           |  FROM inter t JOIN sz sa ON sa.doc_id = t.i
           |  JOIN sz sb ON sb.doc_id = t.j),
           |dir AS (
           |  SELECT i AS contained, j AS container, inter,
           |    CAST(inter AS DOUBLE) / CAST(sz_i AS DOUBLE) AS cont FROM pb
           |  UNION ALL
           |  SELECT j, i, inter, CAST(inter AS DOUBLE) / CAST(sz_j AS DOUBLE)
           |  FROM pb)
           |SELECT contained, container, inter, round(cont, 4) AS cont
           |FROM dir WHERE cont >= 0.9""".stripMargin,

      // delta restriction: same LSH pipeline, pairs whose newer side is in
      // the newest-20% id range (candidate banding is unaffected for them)
      "q_dedup_incremental" ->
        s"""WITH ${sqlLshPairCtesFrom("documents")}
           |SELECT i, j, jac FROM lshpairs
           |WHERE j >= (SELECT ((max(doc_id) + 1) * 4) // 5 FROM documents)""".stripMargin,

      "q_curation_topfrac" ->
        s"""WITH d AS (SELECT doc_id, lang,
           |  CAST(round(${TA.sqlQualityScore} * 1000000.0) AS BIGINT) AS score_i,
           |  CAST(${TA.sqlNTokens} AS BIGINT) AS n FROM documents),
           |ranked AS (SELECT lang, n,
           |  row_number() OVER (ORDER BY score_i DESC, doc_id) AS rn FROM d)
           |SELECT lang, count(*) AS n_kept, CAST(sum(n) AS BIGINT) AS kept_tokens
           |FROM ranked WHERE rn <= (SELECT count(*) * 3 // 10 FROM documents)
           |GROUP BY 1""".stripMargin,

      "q_curation_histcut" -> {
        import graft.functions.Histogram
        s"""WITH d AS (SELECT doc_id, lang,
           |  CAST(round(${TA.sqlQualityScore} * 1000000.0) AS BIGINT) AS score_i,
           |  CAST(${TA.sqlNTokens} AS BIGINT) AS n FROM documents),
           |s AS (SELECT CAST(min(score_i) AS DOUBLE) AS lo,
           |             CAST(max(score_i) AS DOUBLE) AS hi FROM d),
           |b AS (SELECT d.*, ${Histogram.sqlBin("CAST(score_i AS DOUBLE)", "s.lo", "s.hi", 256)} AS bin
           |  FROM d, s),
           |hist AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
           |cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
           |               sum(cnt) OVER () AS n FROM hist),
           |thr AS (SELECT min(bin) AS bstar FROM cum WHERE cum * 100 >= 30 * n)
           |SELECT lang, count(*) AS n_kept, CAST(sum(n) AS BIGINT) AS kept_tokens
           |FROM b, thr WHERE bin > bstar GROUP BY 1""".stripMargin
      },

      "q_dedup_simhash" -> {
        val bitSums = (0 until 60).map(i =>
          s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN tf ELSE -tf END) AS b$i").mkString(",\n  ")
        val sketch = (0 until 60).map(i =>
          s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString("(", " + ", ")")
        s"""WITH tf AS (
           |  SELECT doc_id, token, count(*) AS tf, ${Hashing.sqlMd5Long("token")} AS h
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
           |  GROUP BY doc_id, token, h),
           |bitsums AS (SELECT doc_id,
           |  $bitSums
           |  FROM tf GROUP BY doc_id),
           |sk AS (SELECT doc_id, $sketch AS simhash FROM bitsums)
           |SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist, count(*) AS n_pairs
           |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
           |GROUP BY 1""".stripMargin
      },

      "q_dedup_apply" ->
        s"""WITH ${sqlGuardedShingleCtesFrom("documents")},
           |pairs AS (
           |  SELECT b.doc_id AS j
           |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  JOIN sz sa ON sa.doc_id = a.doc_id
           |  JOIN sz sb ON sb.doc_id = b.doc_id
           |  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
           |  HAVING CAST(count(*) AS DOUBLE) / CAST(sa.sz + sb.sz - count(*) AS DOUBLE) >= $JaccardTau)
           |SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
           |FROM documents WHERE doc_id NOT IN (SELECT j FROM pairs)
           |GROUP BY 1""".stripMargin,

      "q_curation_pipeline" ->
        s"""WITH filtered AS (
           |  SELECT * FROM documents
           |  WHERE ${t.sqlPredictedLang()} = 'en' AND ${t.sqlQualityScore} >= 0.5),
           |${sqlLshPairCtesFrom("filtered")}
           |SELECT source, count(*) AS n_docs, CAST(sum(${t.sqlNTokens}) AS BIGINT) AS total_tokens
           |FROM filtered
           |WHERE doc_id NOT IN (SELECT j FROM lshpairs)
           |GROUP BY 1""".stripMargin,

      "q_pipeline_e2e" ->
        s"""WITH kept AS (
           |  SELECT * FROM documents
           |  WHERE source <> 'src0'
           |    AND ${t.sqlPredictedLang()} = 'en' AND ${t.sqlQualityScore} >= 0.5),
           |btoks AS (SELECT doc_id, string_split(text, ' ') AS toks
           |          FROM documents WHERE source = 'src0'),
           |bsh AS (SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS shingle
           |        FROM btoks, unnest(generate_series(1, len(toks)-4)) AS t(i)),
           |ktoks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kept),
           |ksh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
           |        FROM ktoks, unnest(generate_series(1, len(toks)-4)) AS t(i)),
           |flagged AS (
           |  SELECT ksh.doc_id FROM ksh JOIN bsh USING (shingle)
           |  GROUP BY 1 HAVING count(*) >= 3),
           |clean AS (SELECT * FROM kept
           |          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
           |${sqlLshPairCtesFrom("clean")}
           |SELECT ${Sampling.sqlSplit("doc_id")} AS split, count(*) AS n_docs,
           |  CAST(sum(${t.sqlNTokens}) AS BIGINT) AS total_tokens,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM clean
           |WHERE doc_id NOT IN (SELECT j FROM lshpairs)
           |GROUP BY 1""".stripMargin,

      "q_dedup_clusters" ->
        s"""WITH RECURSIVE ${sqlLshPairCtesFrom("documents")},
           |syme AS (SELECT i AS a, j AS b FROM lshpairs
           |         UNION SELECT j, i FROM lshpairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM syme
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN syme e ON r.b = e.a),
           |lab AS (SELECT a, least(a, min(b)) AS cluster FROM reach GROUP BY a)
           |SELECT cluster, count(*) AS n_members, max(a) AS max_id
           |FROM lab GROUP BY 1""".stripMargin,

      "q_split_leakage_safe" ->
        s"""WITH RECURSIVE ${sqlLshPairCtesFrom("documents")},
           |syme AS (SELECT i AS a, j AS b FROM lshpairs
           |         UNION SELECT j, i FROM lshpairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM syme
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN syme e ON r.b = e.a),
           |lab AS (SELECT a, least(a, min(b)) AS cluster FROM reach GROUP BY a),
           |assigned AS (SELECT d.doc_id, d.n_chars,
           |    COALESCE(lab.cluster, d.doc_id) AS rep
           |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.a),
           |sp AS (SELECT *, ${Sampling.sqlSplit("rep", salt = "leak")} AS split,
           |    ${Sampling.sqlSplit("doc_id", salt = "leak")} AS naive
           |  FROM assigned)
           |SELECT split, count(*) AS n_docs,
           |  CAST(count(DISTINCT rep) AS BIGINT) AS n_groups,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  CAST(sum(CASE WHEN naive <> split THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
           |FROM sp GROUP BY 1""".stripMargin,

      "q_sample_kfold" ->
        s"""SELECT ${Sampling.sqlHashBucket("doc_id", 5, "cv")} AS fold,
           |  lang, count(*) AS n,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM documents GROUP BY 1, 2""".stripMargin,

      "q_sample_budget_alloc" -> {
        val hk = graft.functions.Hashing.sqlMd5LongSeeded(
          "CAST(doc_id AS VARCHAR)", 7)
        """WITH c AS (SELECT lang, count(*) AS nh FROM documents GROUP BY 1),
          |t AS (SELECT c.lang, c.nh, (200 * c.nh) // s.n AS base,
          |    200 * c.nh - ((200 * c.nh) // s.n) * s.n AS rem
          |  FROM c, (SELECT CAST(sum(nh) AS BIGINT) AS n FROM c) s),
          |a AS (SELECT lang, nh,
          |    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
          |      <= (SELECT 200 - CAST(sum(base) AS BIGINT) FROM t)
          |      THEN 1 ELSE 0 END AS alloc
          |  FROM t),
          |r AS (SELECT d.lang, d.n_chars,
          |    row_number() OVER (PARTITION BY d.lang
          |      ORDER BY """.stripMargin + hk + """, d.doc_id) AS rn
          |  FROM documents d)
          |SELECT a.lang, CAST(a.nh AS BIGINT) AS nh,
          |  CAST(a.alloc AS BIGINT) AS alloc,
          |  count(*) AS taken,
          |  CAST(sum(r.n_chars) AS BIGINT) AS sample_chars
          |FROM r JOIN a ON r.lang = a.lang
          |WHERE r.rn <= a.alloc
          |GROUP BY 1, 2, 3""".stripMargin
      },

      "q_sample_permutation" -> {
        val hk = graft.functions.Hashing.sqlMd5LongSeeded(
          "CAST(doc_id AS VARCHAR)", 42)
        s"""WITH k AS (SELECT doc_id, $hk AS hk FROM documents)
           |SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY hk, doc_id) - 1 AS BIGINT)
           |    AS shuffle_pos
           |FROM k""".stripMargin
      },

      "q_export_global_ids" ->
        """SELECT doc_id, n_chars,
          |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS gid
          |FROM documents""".stripMargin,

      "q_dedup_labels_materialized" ->
        s"""WITH RECURSIVE ${sqlLshPairCtesFrom("documents")},
           |syme AS (SELECT i AS a, j AS b FROM lshpairs
           |         UNION SELECT j, i FROM lshpairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM syme
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN syme e ON r.b = e.a),
           |lab AS (SELECT a, least(a, min(b)) AS cluster FROM reach GROUP BY a),
           |assigned AS (SELECT d.doc_id, d.n_chars,
           |    COALESCE(lab.cluster, d.doc_id) AS rep
           |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.a),
           |sp AS (SELECT *, ${Sampling.sqlSplit("rep", salt = "leak")} AS split
           |  FROM assigned)
           |SELECT split, count(*) AS n_docs,
           |  CAST(count(DISTINCT rep) AS BIGINT) AS n_groups,
           |  CAST(sum(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_survivors,
           |  CAST(sum(CASE WHEN doc_id = rep THEN n_chars ELSE 0 END) AS BIGINT)
           |    AS survivor_chars
           |FROM sp GROUP BY 1""".stripMargin,

      "q_dedup_quality_survivor" ->
        s"""WITH RECURSIVE ${sqlLshPairCtesFrom("documents")},
           |syme AS (SELECT i AS a, j AS b FROM lshpairs
           |         UNION SELECT j, i FROM lshpairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM syme
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN syme e ON r.b = e.a),
           |lab AS (SELECT a, least(a, min(b)) AS cluster FROM reach GROUP BY a),
           |scored AS (SELECT lab.a, lab.cluster,
           |    CAST(round(${TA.sqlQualityScore} * 1000000.0) AS BIGINT) AS score_i
           |  FROM lab JOIN documents d ON d.doc_id = lab.a),
           |ranked AS (SELECT *,
           |    row_number() OVER (PARTITION BY cluster
           |      ORDER BY score_i DESC, a) AS rn FROM scored)
           |SELECT cluster, a AS survivor_id, score_i AS survivor_score
           |FROM ranked WHERE rn = 1""".stripMargin,

      "q_dedup_embed_cosine" ->
        s"""WITH $sqlQuantCte
           |SELECT a.vec_id AS i, b.vec_id AS j, round($sqlCos, 4) AS cos
           |FROM em a JOIN em b ON a.vec_id < b.vec_id
           |WHERE $sqlCos >= $CosineTau""".stripMargin,

      "q_emb_meanpool" ->
        s"""WITH $sqlQuantCte,
           |ex AS (SELECT vec_id % 8 AS grp, i AS pos, q[i] AS v
           |       FROM em, unnest(generate_series(1, len(q))) AS t(i))
           |SELECT grp, count(*) AS n, pos,
           |  round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS mean
           |FROM ex GROUP BY grp, pos""".stripMargin,

      "q_sim_topk" ->
        s"""WITH $sqlQuantCte,
           |scored AS (
           |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $sqlCos AS cos
           |  FROM em a, em b
           |  WHERE b.vec_id < 5 AND a.vec_id <> b.vec_id)
           |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM scored) r
           |WHERE rnk <= 10""".stripMargin,

      "q_sim_filtered" ->
        s"""WITH $sqlQuantCte,
           |scored AS (
           |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $sqlCos AS cos
           |  FROM em a JOIN embeddings ea ON ea.vec_id = a.vec_id, em b
           |  WHERE b.vec_id < 5 AND a.vec_id <> b.vec_id AND ea.label = 3)
           |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM scored) r
           |WHERE rnk <= 10""".stripMargin,

      "q_sim_ivf" ->
        s"""WITH $sqlQuantCte,
           |cents AS (SELECT vec_id AS cid, q AS qc FROM em WHERE vec_id < 16),
           |assign AS (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_dot_product(e.q, c.qc) /
           |        (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.qc, c.qc))) DESC,
           |        c.cid) AS rk
           |  FROM em e, cents c),
           |cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rk = 1),
           |scored AS (
           |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $sqlCos AS cos
           |  FROM em a JOIN cells ca ON ca.vec_id = a.vec_id,
           |       em b JOIN cells cb ON cb.vec_id = b.vec_id
           |  WHERE b.vec_id < 20 AND a.vec_id <> b.vec_id AND ca.cell = cb.cell)
           |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM scored) r
           |WHERE rnk <= 5""".stripMargin,

      "q_sim_ivf_nprobe" ->
        s"""WITH $sqlQuantCte,
           |cents AS (SELECT vec_id AS cid, q AS qc FROM em WHERE vec_id < 16),
           |assign AS (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_dot_product(e.q, c.qc) /
           |        (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.qc, c.qc))) DESC,
           |        c.cid) AS rk
           |  FROM em e, cents c),
           |cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rk = 1),
           |qcells AS (SELECT vec_id, cid AS cell FROM assign WHERE rk <= 2),
           |scored AS (
           |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $sqlCos AS cos
           |  FROM em a JOIN cells ca ON ca.vec_id = a.vec_id,
           |       em b JOIN qcells cb ON cb.vec_id = b.vec_id
           |  WHERE b.vec_id < 20 AND a.vec_id <> b.vec_id AND ca.cell = cb.cell)
           |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM scored) r
           |WHERE rnk <= 5""".stripMargin,

      "q_sim_lsh_bucket" ->
        s"""WITH $sqlQuantCte,
           |scored AS (
           |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $sqlCos AS cos
           |  FROM em a, em b
           |  WHERE b.vec_id < 20 AND a.vec_id <> b.vec_id
           |    AND ${sqlBucket("a.embedding")} = ${sqlBucket("b.embedding")})
           |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM scored) r
           |WHERE rnk <= 5""".stripMargin,

      "q_sim_lsh_bands" ->
        s"""WITH $sqlQuantCte,
           |scored AS (
           |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $sqlCos AS cos
           |  FROM em a, em b
           |  WHERE b.vec_id < 20 AND a.vec_id <> b.vec_id
           |    AND (${LshBands.map(d =>
                      s"${sqlBucketDims("a.embedding", d)} = ${sqlBucketDims("b.embedding", d)}")
                      .mkString("\n          OR ")}))
           |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
           |  FROM scored) r
           |WHERE rnk <= 5""".stripMargin,

      // Real-codec frame dedup: the Spark side hashes DECODED pixel bytes;
      // the oracle groups by the generating content seed. The two censuses
      // agree iff ImageIO's PNG round-trip is pixel-exact (distinct seeds
      // give distinct first channels, so md5 classes == seed classes).
      "q_mm_frame_dedup" ->
        """WITH fr AS (SELECT ((d.doc_id * 3 + f.f * 7) % 32) AS seed
          |  FROM documents d,
          |    unnest(generate_series(0, CAST(5 + d.doc_id % 4 AS BIGINT))) AS f(f)
          |  WHERE d.doc_id % 3 = 2),
          |g AS (SELECT seed, count(*) AS c FROM fr GROUP BY 1)
          |SELECT CAST(sum(c) AS BIGINT) AS n_frames, count(*) AS n_distinct,
          |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_frames,
          |  CAST(max(c) AS BIGINT) AS max_group
          |FROM g""".stripMargin,

      // Real-WAV VAD: the oracle replays the closed-form PCM samples
      // s(i) = ((doc_id*17+i*i*5)%4097)-2048; the Spark side reads them
      // back out of the RIFF container via javax.sound. Exact match iff
      // the encode->decode sample round-trip is bit-exact.
      "q_mm_audio_vad" ->
        """WITH s AS (SELECT d.doc_id, t.i // 256 AS ci,
          |    abs(((d.doc_id * 17 + t.i * t.i * 5) % 4097) - 2048) AS a
          |  FROM documents d, unnest(generate_series(0, 2047)) AS t(i)
          |  WHERE d.doc_id % 3 = 1),
          |e AS (SELECT doc_id, ci, CAST(count(*) AS BIGINT) AS n_samples,
          |    CAST(sum(a) AS BIGINT) AS energy
          |  FROM s GROUP BY 1, 2)
          |SELECT doc_id, count(*) AS n_chunks,
          |  CAST(sum(CASE WHEN energy > 1024 * n_samples THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced,
          |  CAST(sum(CASE WHEN energy > 1024 * n_samples THEN n_samples ELSE 0 END) AS BIGINT) AS voiced_samples,
          |  CAST(max(energy) AS BIGINT) AS max_energy
          |FROM e GROUP BY 1""".stripMargin,

      // Real-codec scene-cut: per-frame energy = decoded pixel sum, which
      // the oracle recomputes from the frame-seed formula; deltas/cuts
      // replay in SQL windows.
      "q_mm_scenecut" ->
        """WITH e AS (SELECT d.doc_id, f.f AS fi,
          |    CAST(sum((((d.doc_id * 3 + f.f * 7) % 32) * 29 + t.i * t.i * 11) % 256) AS BIGINT) AS energy
          |  FROM documents d,
          |    unnest(generate_series(0, CAST(5 + d.doc_id % 4 AS BIGINT))) AS f(f),
          |    unnest(generate_series(0, 191)) AS t(i)
          |  WHERE d.doc_id % 3 = 2 GROUP BY 1, 2),
          |dl AS (SELECT doc_id,
          |    abs(energy - lag(energy, 1) OVER (PARTITION BY doc_id
          |      ORDER BY fi)) AS delta
          |  FROM e)
          |SELECT doc_id, count(*) AS n_frames,
          |  CAST(sum(CASE WHEN delta > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
          |  CAST(max(COALESCE(delta, 0)) AS BIGINT) AS max_delta
          |FROM dl GROUP BY 1""".stripMargin,

      "q_mm_pipeline" ->
        """WITH base AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0 THEN 'image'
          |         WHEN doc_id % 3 = 1 THEN 'audio'
          |         ELSE 'video' END AS kind,
          |    LEAST(octet_length(encode(text)), 256) AS m
          |  FROM documents),
          |per_doc AS (
          |  SELECT doc_id, kind, m,
          |    (m + 63) // 64 AS c,
          |    ((m + 63) // 64 + 1) // 2 AS k
          |  FROM base),
          |nonempty AS (SELECT * FROM per_doc WHERE k > 0)
          |SELECT kind,
          |  count(DISTINCT doc_id) AS n_docs,
          |  CAST(sum(k) AS BIGINT) AS total_frames,
          |  CAST(sum(CASE WHEN (c - 1) % 2 = 0
          |                THEN 64 * (k - 1) + (m - 64 * (c - 1))
          |                ELSE 64 * k END) AS BIGINT) AS total_frame_bytes
          |FROM nonempty GROUP BY 1""".stripMargin,

      // byte-level replay of resize(16x16) -> frames(64, stride 2) ->
      // dim-fold embedding -> floor-mean pooling. The corpus is pure
      // ASCII (pinned by q_mm_pipeline's octet_length parity), so
      // substr/ascii positions == payload bytes; dim = (i-1) % 8 because
      // 64 % 8 = 0.
      "q_mm_embed" ->
        """WITH base AS (
          |  SELECT doc_id, substr(text, 1, 256) AS payload FROM documents),
          |chars AS (
          |  SELECT doc_id,
          |    (i - 1) // 64 AS frame_idx,
          |    (i - 1) % 8 AS dim,
          |    ascii(substr(payload, i, 1)) AS b
          |  FROM base, unnest(generate_series(1, length(payload))) AS t(i)),
          |fe AS (
          |  SELECT doc_id, frame_idx, dim, CAST(sum(b) AS BIGINT) AS v
          |  FROM chars WHERE frame_idx % 2 = 0 GROUP BY 1, 2, 3),
          |pooled AS (
          |  SELECT doc_id, dim,
          |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS pv
          |  FROM fe GROUP BY 1, 2)
          |SELECT
          |  CASE WHEN doc_id % 3 = 0 THEN 'image'
          |       WHEN doc_id % 3 = 1 THEN 'audio'
          |       ELSE 'video' END AS kind,
          |  dim, count(*) AS n_docs, CAST(sum(pv) AS BIGINT) AS sum_pv
          |FROM pooled GROUP BY 1, 2""".stripMargin,

      "q_mm_search" ->
        """WITH base AS (
          |  SELECT doc_id, substr(text, 1, 256) AS payload FROM documents),
          |chars AS (
          |  SELECT doc_id,
          |    (i - 1) // 64 AS frame_idx,
          |    (i - 1) % 8 AS dim,
          |    ascii(substr(payload, i, 1)) AS b
          |  FROM base, unnest(generate_series(1, length(payload))) AS t(i)),
          |fe AS (
          |  SELECT doc_id, frame_idx, dim, CAST(sum(b) AS BIGINT) AS v
          |  FROM chars WHERE frame_idx % 2 = 0 GROUP BY 1, 2, 3),
          |pooled AS (
          |  SELECT doc_id, dim,
          |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS pv
          |  FROM fe GROUP BY 1, 2),
          |vq AS (SELECT dim, pv AS qv FROM pooled WHERE doc_id = 0)
          |SELECT p.doc_id, CAST(sum(p.pv * vq.qv) AS BIGINT) AS score
          |FROM pooled p JOIN vq USING (dim)
          |WHERE p.doc_id <> 0
          |GROUP BY 1
          |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

      // Real-codec features: the oracle recomputes each modality's decoded
      // census from the closed-form content (16x16x3 PNG channels, 2048
      // PCM samples, 6+id%4 frames of 8x8x3) — the Spark side must get the
      // identical integers back OUT of the encoded PNG/WAV/container via
      // javax.imageio / javax.sound for the hash to match.
      "q_mm_features" -> sqlMmFeatures,
      // the artifact holds EXACTLY the per-query media table, so the
      // materialized consumer replays against the identical formula
      "q_mm_features_materialized" -> sqlMmFeatures
    )
  }

  /** Oracle for q_mm_features / q_mm_features_materialized: recompute the
    * decoded-content census from the closed-form payload formulas (the
    * hash match proves the JDK codec round-trip bit-exact). */
  private def sqlMmFeatures: String =
        """WITH img AS (SELECT d.doc_id, CAST(256 AS BIGINT) AS n_units,
          |    CAST(sum((d.doc_id * 31 + t.i * t.i * 13) % 256) AS BIGINT) AS feat
          |  FROM documents d, unnest(generate_series(0, 767)) AS t(i)
          |  WHERE d.doc_id % 3 = 0 GROUP BY 1),
          |aud AS (SELECT d.doc_id, CAST(2048 AS BIGINT) AS n_units,
          |    CAST(sum(abs(((d.doc_id * 17 + t.i * t.i * 5) % 4097) - 2048)) AS BIGINT) AS feat
          |  FROM documents d, unnest(generate_series(0, 2047)) AS t(i)
          |  WHERE d.doc_id % 3 = 1 GROUP BY 1),
          |vid AS (SELECT d.doc_id, CAST(6 + d.doc_id % 4 AS BIGINT) AS n_units,
          |    CAST(sum((((d.doc_id * 3 + f.f * 7) % 32) * 29 + t.i * t.i * 11) % 256) AS BIGINT) AS feat
          |  FROM documents d,
          |    unnest(generate_series(0, CAST(5 + d.doc_id % 4 AS BIGINT))) AS f(f),
          |    unnest(generate_series(0, 191)) AS t(i)
          |  WHERE d.doc_id % 3 = 2 GROUP BY 1),
          |u AS (
          |  SELECT 'image' AS kind, n_units, feat FROM img
          |  UNION ALL SELECT 'audio', n_units, feat FROM aud
          |  UNION ALL SELECT 'video', n_units, feat FROM vid)
          |SELECT kind, count(*) AS n,
          |  CAST(sum(n_units) AS BIGINT) AS total_units,
          |  CAST(sum(feat) AS BIGINT) AS total_feat,
          |  CAST(min(feat) AS BIGINT) AS min_feat,
          |  CAST(max(feat) AS BIGINT) AS max_feat
          |FROM u GROUP BY 1""".stripMargin
}
