package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length}
import graft.Graft.table
import graft.operators.{Graphs, Similarity, TextDedup, TextLm, TextPrep}

/** The SESSION-SHARED persisted intermediates — the cross-query caches
  * that deliberately survive [[graft.operators.CacheScope.drain]] because
  * several queries consume one expensive build (the production shape: one
  * candidate graph feeds every dedup consumer). Each is a [[SharedCache]]
  * value declared here; consumers call `SharedCaches.<cache>(s, d)`.
  *
  * Why one registry: per-query bench times must not depend on RUN ORDER.
  * Before this existed, whichever consumer ran first paid the whole build
  * (q221 17.4 s vs 0.12 s warmed; q213, q291 likewise across rounds) and
  * the round bench minted a false "spike" that cost an adjudication cycle
  * each time. `graft.Bench` now pre-materializes every entry of
  * [[builders]] before the timed pass and reports the build cost as its
  * own summary line, so consumers always measure steady-state cost.
  * Queries stay standalone in SEMANTICS: each cache memoizes per (session,
  * sf dir) and a cold call rebuilds identically (specs pin this).
  *
  * DECLARATION ORDER IS DEPENDENCY ORDER. A cache that memoizes through
  * another (dedup_worklist → minhash_pair_graph) is declared AFTER it, and
  * Bench builds in declared order, so each breakdown line prices exactly
  * its own build. Alphabetical order once put dedup_worklist first and
  * silently charged it minhash's whole pair-graph build while minhash
  * reported a near-zero hit. A twin (two caches from one build) is
  * declared as a pair: its first name prices the build, the second ~0.
  * Declaring a cache registers it in [[builders]]; BenchCacheSpec checks
  * the order on a fresh session and that no cache is declared elsewhere.
  */
object SharedCaches {

  private val declared = scala.collection.mutable.ArrayBuffer.empty[SharedCache]

  private def cache(name: String)(build: (SparkSession, String) => DataFrame): SharedCache = {
    val c = SharedCache(name)(build)
    declared += c
    c
  }

  private def twin(a: String, b: String)(
      build: (SparkSession, String) => (DataFrame, DataFrame)): (SharedCache, SharedCache) = {
    val p = SharedCache.twin(a, b)(build)
    declared += p._1 += p._2
    p
  }

  /** The MinHash-LSH near-dup pair set is consumed by three queries (q31
    * pairs, q60 edit distances, q61 clustering). Computed once per
    * (session, sf dir) and persisted — exactly how a production dedup
    * pipeline feeds one candidate graph to all its consumers, and it keeps
    * the bench honest about shared intermediates. The result is tiny
    * (pairs above threshold). */
  val minhashPairGraph: SharedCache = cache("minhash_pair_graph") { (s, d) =>
    TextDedup.minhashNearDupPairs(
      table(s, d, "documents"), "doc_id", "text", threshold = 0.5)
  }

  /** q75's n-gram Jaccard pair set, shared the same way: its inverted-
    * index candidate build is the suite's single most expensive stage
    * (~5 s warmed at sf0.1), and q291's agreement Venn used to re-pay it
    * in full. Computed once per (session, sf dir); what persists is only
    * the verified pairs above threshold — tiny. Queries remain standalone
    * in semantics: each consumer rebuilds identically if run alone. */
  val ngramJaccardPairs: SharedCache = cache("ngram_jaccard_pairs") { (s, d) =>
    TextDedup.ngramJaccardPairs(
      table(s, d, "documents"), "doc_id", "text",
      n = 8, maxDfFrac = 0.02, threshold = 0.5, minShared = 2)
  }

  /** q141's winnowed-fingerprint pair set, shared the same way (the r12
    * verdict's last ≥4 s dedup heavies): the fingerprint inventory +
    * df-capped inverted-list self-join is the cost; what persists is
    * only the verified pair set — tiny. Standalone semantics: a cold
    * call rebuilds identically (RoundThirteenOpsSpec pins it). */
  val winnowPairs: SharedCache = cache("winnow_pairs") { (s, d) =>
    TextDedup.winnowNearDupPairs(
      table(s, d, "documents"), "doc_id", "text",
      k = 5, w = 4, minShared = 2, maxDf = 20)
  }

  /** q213's PPJoin pair set, session-keyed like [[ngramJaccardPairs]]
    * (the r12 verdict's other ≥4 s dedup heavy): the n=12 gram-set
    * inventory + prefix-filtered candidate join is the cost; what
    * persists is only the qualifying pair set. Standalone semantics: a
    * cold call rebuilds identically (RoundThirteenOpsSpec pins it). */
  val ppjoinPairs: SharedCache = cache("ppjoin_pairs") { (s, d) =>
    TextDedup.ppjoinPairs(
      table(s, d, "documents"), "doc_id", "text", n = 12, threshold = 0.7)
  }

  /** The q221 brand-lift table — four queries (q221/q222/q267/q268)
    * consume the same support-filtered co-purchase graph, exactly the
    * [[minhashPairGraph]] shared-graph pattern (the lift table is
    * |brand-pairs|-bounded, so the persist is tiny). */
  val brandLift: SharedCache = cache("brand_lift") { (s, d) =>
    Graphs.cooccurrenceLift(
      table(s, d, "lineitem")
        .join(table(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")),
      "l_orderkey", "p_brand", InferQueries.supNum, InferQueries.supDen)
  }

  /** The q142 Lloyd ASSIGNMENT over the embeddings table (vec_id, cid,
    * emb, nrm) plus its trained centroid frame — FOUR consumers derive
    * this identical pair at identical parameters (nlist=8, lloydIters=2):
    * q142 semanticDedup, q362 prototypicalityBand, q387
    * semanticDecontam, and [[dedupWorklist]]'s semantic pair stage; each
    * previously re-ran the norms scan + Lloyd rounds + assignment
    * (~1–2.5 s apiece at sf0.1). ONE build installs both frames (the
    * bpe_merges/bpe_dict twin pattern — sem_cents is declared FIRST so
    * its line prices the Lloyd training and sem_assign prices the
    * assignment on top). Standalone semantics: a cold call rebuilds
    * identically (RoundTwentyOptSpec pins shared == standalone for all
    * four consumers). */
  val (semCents, semAssign) =
    twin("sem_cents", "sem_assign") { (s, d) =>
      val (assign, cents) = Similarity.semAssignmentFrames(
        table(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 8, lloydIters = 2)
      (cents, assign)
    }

  /** The q345/q346 end-to-end dedup worklist (exact → near-dup →
    * semantic, per-doc fate + survivor): the worklist query and its
    * funnel both consume one build, and the persisted result is |docs|
    * rows. The near-dup stage reuses [[minhashPairGraph]]; the semantic
    * pair set is the q142 cell lineage's pair form. Standalone semantics:
    * a cold call rebuilds identically. */
  val dedupWorklist: SharedCache = cache("dedup_worklist") { (s, d) =>
    TextDedup.dedupPipeline(
      table(s, d, "documents"), "doc_id", "text",
      minhashPairGraph(s, d),
      Similarity.semanticDupPairsFrom(semAssign(s, d), "vec_id",
        threshold = 0.3))
  }

  /** The KN-family shared tokenize + per-doc bigram aggregate (doc_id,
    * w1, w2, occ) — SEVEN queries start from this one frame
    * (q342/q343/q344/q347/q348/q349/q354), and before r16 each rebuilt
    * it (~1.5–4.7 s apiece at sf0.1). |rows| ≈ corpus bigram instances
    * collapsed to per-doc types. Standalone semantics: a cold call
    * rebuilds identically (TextLmSharedSpec pins shared == standalone). */
  val knDocBigrams: SharedCache = cache("kn_doc_bigrams") { (s, d) =>
    TextLm.docBigrams(table(s, d, "documents"), "doc_id", "text")
  }

  /** The interpolated-KN bigram model TYPE table (w1, w2, lp_mu),
    * memoized THROUGH [[knDocBigrams]]. Consumed directly by
    * q342/q343/q354, as the reference model by q348, and as the general
    * ratio side by q344. Zipf-bounded type table — tiny. */
  val knBigramModel: SharedCache = cache("kn_bigram_model") { (s, d) =>
    TextLm.knBigramModel(knDocBigrams(s, d), table(s, d, "documents"), "text")
  }

  /** The per-language KN scored TYPE frame (one row per (doc, lang,
    * bigram type) with lp_mu under the doc's OWN language model) — feeds
    * q369 (pooled) and q374 (per-doc + tercile mix). Memoizes THROUGH
    * [[knDocBigrams]]. Standalone semantics: a cold call rebuilds
    * identically (TextLmSharedSpec pins shared == standalone). */
  val langKnScored: SharedCache = cache("lang_kn_scored") { (s, d) =>
    TextLm.groupedKnScoredFrom(
      knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text", "lang")
  }

  /** The SoftDeDup per-doc loss-weight frame (q388's full output) —
    * THREE consumers (q388 verbatim, q394's allocation input, q398's
    * soft leg), each previously re-running the commonness model + per-doc
    * score over the shared KN inventory (~1.5–1.9 s apiece at sf0.1).
    * Memoizes THROUGH [[knDocBigrams]]. Standalone semantics: a cold call
    * rebuilds identically (RoundNineteenOptSpec pins it). */
  val softdedupWeights: SharedCache = cache("softdedup_weights") { (s, d) =>
    TextLm.softDedupWeights(knDocBigrams(s, d), "doc_id")
  }

  /** The exact-substring RUN inventory at the house (l=20, maxDf=10)
    * point — FIVE queries consume one build (q300 verbatim, q377's
    * removal, q384's l=20 leg, q391/q398 through the dedup-discounted
    * allocation), each previously re-paying the window-fingerprint +
    * pair-join + island-stitch chain (~1.1–1.6 s apiece at sf0.1).
    * Standalone semantics: a cold call rebuilds identically
    * (RoundNineteenOptSpec pins it). The persisted frame is the RUNS
    * (tiny — pairs × diagonals above l). */
  val exactRunsL20: SharedCache = cache("exact_runs_l20") { (s, d) =>
    TextDedup.exactSubstringRuns(table(s, d, "documents"),
      "doc_id", "text", l = 20, maxDf = 10)
  }

  /** The per-doc exact-substring dedup frame (doc_id, n_tokens,
    * n_tokens_removed, clean_md5) at the same point — q377's whole
    * output, consumed again by q391 and q398's dedup leg. Memoizes
    * THROUGH [[exactRunsL20]]. */
  val exactSubstrDoc: SharedCache = cache("exact_substr_doc") { (s, d) =>
    TextDedup.exactSubstringDedupFrom(table(s, d, "documents"),
      "doc_id", "text", exactRunsL20(s, d))
  }

  /** The per-k memorization window inventories (doc_id, fp, nxt) —
    * EIGHT builds per suite pass collapsed to three priced ones: q389
    * (k=5/10/20), q393 (k=10), q397 (k=5/10/20) and the q395 card's
    * k=10 leg all consume [[TextDedup.memWindowInventory]] frames.
    *
    * r20: the three per-k builds each re-paid the parquet scan + token
    * split (guide §2.4 — one corpus pass instead of three). This parent
    * (doc_id, k, fp, nxt) frame is minted once
    * ([[TextDedup.memWindowInventoryMulti]]); each per-k child persists
    * its `k = const` filter of it (one cache per k, so each build is
    * priced on its own line), and consumers see EXACTLY the frames they
    * always did (schema and rows spec-pinned identical to the single-k
    * builds; RoundNineteenOptSpec pins shared == standalone). */
  val memWindows: SharedCache = cache("mem_windows") { (s, d) =>
    TextDedup.memWindowInventoryMulti(table(s, d, "documents"),
      "doc_id", "text", Seq(5, 10, 20))
  }

  private def memWindowsK(k: Int): SharedCache = cache(s"mem_windows_k$k") { (s, d) =>
    memWindows(s, d).where(col("k") === k)
      .select(col("doc_id"), col("fp"), col("nxt"))
  }

  val memWindowsK5: SharedCache = memWindowsK(5)
  val memWindowsK10: SharedCache = memWindowsK(10)
  val memWindowsK20: SharedCache = memWindowsK(20)

  /** The 13-rule Gopher repetition MICRO census (doc_id, n_lines,
    * <rule>_mu x13, pass) — FIVE queries consume one build
    * (q375/q376/q381/q385/q392; ~4-5 s apiece at sf0.1 rebuilt, the
    * single most-shared frame after the KN caches). Standalone
    * semantics: a cold call rebuilds identically. */
  val gopherMicro: SharedCache = cache("gopher_micro") { (s, d) =>
    TextDedup.gopherMicro(table(s, d, "documents"), "doc_id", "text",
      lineTokens = 3, paraTokens = 10)
  }

  /** The Gopher QUALITY-rule census (q380's full output) — three
    * consumers (q380/q385/q392). */
  val gopherQuality: SharedCache = cache("gopher_quality") { (s, d) =>
    TextDedup.gopherQualityRules(table(s, d, "documents"), "doc_id", "text")
  }

  /** The tokenizer word-type SEED (w, freq, sym) — ONE corpus word scan
    * feeding all three trainer families (bpe/wordpiece merge loops
    * directly; unigram via the maxWordLen-filtered projection). Eight
    * consumers ride it transitively (q331/q334/q357/q358/q350/q352/
    * q353/q390 — far past the house 3+ rule). Standalone semantics: a
    * cold call rebuilds identically (TextPrepSpec pins shared ==
    * standalone). */
  val tokWordSeed: SharedCache = cache("tok_word_seed") { (s, d) =>
    TextPrep.seedWordTypesPlan(table(s, d, "documents"), "text")
  }

  /** The trained BPE artifacts — merge table (q331) and final word-type
    * dictionary (q334/q390). ONE merge-loop run per (session, sf dir)
    * builds BOTH (the loop mints them simultaneously; localCheckpointed
    * rounds make it eager). Memoizes THROUGH [[tokWordSeed]]; `bpe_dict`
    * is declared after `bpe_merges`, so its breakdown line prices ~0
    * (same build). */
  val (bpeMerges, bpeDict) =
    twin("bpe_merges", "bpe_dict") { (s, d) =>
      TextPrep.bpeMergeLoopFrom(tokWordSeed(s, d), merges = 10)
    }

  /** The trained WordPiece artifacts — the [[bpeMerges]] pattern for the
    * likelihood-ratio family (q357/q358/q390). */
  val (wordpieceMerges, wordpieceDict) =
    twin("wordpiece_merges", "wordpiece_dict") { (s, d) =>
      TextPrep.wordpieceMergeLoopFrom(tokWordSeed(s, d), merges = 10)
    }

  /** The unigram-LM Viterbi DP frame (one row per word type with cands/
    * best/bounds/pieces) — the ONE frame the whole SentencePiece shelf
    * derives from (q350/q352/q353/q390; the seed model and piece
    * inventory are recovered from the candidate structs). Memoizes
    * THROUGH [[tokWordSeed]] (maxWordLen-filtered projection — freq is
    * per word TYPE, so filtering after the aggregate is identical). */
  val unigramDp: SharedCache = cache("unigram_dp") { (s, d) =>
    TextPrep.unigramDpFrom(
      tokWordSeed(s, d).where(length(col("w")) <= 16).select(col("w"), col("freq")),
      maxPieceLen = 4, maxWordLen = 16)
  }

  /** Every cache above, in declared (dependency) order. */
  val all: Seq[SharedCache] = declared.toSeq

  /** name -> build-or-reuse, in declared order; Bench builds in THIS
    * order. */
  val builders: Seq[(String, (SparkSession, String) => DataFrame)] =
    all.map(c => c.name -> (c.apply _))
}
