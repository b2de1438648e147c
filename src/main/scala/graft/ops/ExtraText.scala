package graft.ops

import graft.Fixtures
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond SURVEY.md §2.H: language-ID,
  * quality scoring, regex token counting, rolling-hash fingerprinting,
  * n-gram Jaccard near-dup pairs, bucketed (IVF-style) ANN, and binary
  * multimodal column plumbing. All are deterministic and oracle-checked;
  * their scale paths are discussed per query.
  */
object ExtraText {
  private def e6(c: Column): Column = floor(c * 1e6 + lit(0.5)).cast("long")

  /** Winnowing window size; a shingle is [[WinnowK]] tokens. Every derived
    * constant (the min-token filter, the oracle's window arithmetic) is
    * written in terms of these two so the algorithm can only be retuned in
    * one place per engine. */
  private val WinnowW = 4
  private val WinnowK = 3

  /** Document-frequency cap for the winnow near-dup index (q_dedup_winnow):
    * fingerprints present in more documents than this are dropped before
    * the posting self-join — MOSS's own guard (Schleimer et al. §5 discard
    * over-frequent fingerprints): they carry no discriminating signal and
    * their posting lists are what turn the join quadratic (measured in the
    * sf0.1→sf1 scaling study: fixed-vocab df grows linearly with corpus, so
    * uncapped pairs grow ~N²). 32 is above every driver-fixture df (max 24
    * at sf0.1), so results at the verified SFs are unchanged; the oracle
    * applies the identical cap. */
  private val WinnowMaxDf = 32

  private val hexDigits = "0123456789abcdef".toCharArray

  /** The k-token-shingle md5 hash sequence a winnow pass selects from —
    * shingle text derived from [[WinnowK]] (a slice + mkString, never a
    * hardcoded 3-term concat, so retuning WinnowK retunes the hashing
    * too). Hex via a nibble table — a per-byte format() would allocate a
    * Formatter per nibble on this per-shingle hot path. */
  private def shingleHashes(toks: Seq[String]): Array[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(math.max(toks.length - (WinnowK - 1), 0)) { i =>
      md.reset()
      val d = md.digest(toks.slice(i, i + WinnowK).mkString(" ").getBytes("UTF-8"))
      val sb = new java.lang.StringBuilder(32)
      var b = 0
      while (b < d.length) {
        sb.append(hexDigits((d(b) >> 4) & 0xf)).append(hexDigits(d(b) & 0xf))
        b += 1
      }
      sb.toString
    }
  }

  /** One linear pass of the winnowing algorithm (k-token shingles, window
    * of w hashes): md5 each shingle once, take each window's minimum hex
    * string, distinct. Matches the DuckDB oracle byte-for-byte (md5 of
    * UTF-8 bytes, lowercase hex, lexicographic min). */
  private val winnowUdf = udf { (toks: Seq[String]) =>
    if (toks == null) Seq.empty[String]
    else {
      val hs = shingleHashes(toks)
      (0 to hs.length - WinnowW).map(j => hs.slice(j, j + WinnowW).min).distinct
    }
  }

  /** Position-carrying winnow pass: each selected fingerprint with the
    * 1-based index of its shingle (leftmost minimum per window — the same
    * tie-break DuckDB's list_position applies), distinct (fp, pos) pairs.
    * Positions are what turn the fingerprint index into a RUN detector:
    * matched fingerprints on one (train, eval) alignment diagonal chain
    * into contiguous shared regions (Schleimer et al., SIGMOD 2003 §4). */
  private val winnowPosUdf = udf { (toks: Seq[String]) =>
    if (toks == null) Seq.empty[(String, Int)]
    else {
      val hs = shingleHashes(toks)
      (0 to hs.length - WinnowW).map { j =>
        val win = hs.slice(j, j + WinnowW)
        val m = win.min
        (m, j + win.indexOf(m) + 1)
      }.distinct
    }
  }

  /** The (doc_id, fp) winnow-fingerprint frame both winnow queries share —
    * min doc length w+k-1 tokens (below that no window exists). */
  private def winnowFps(s: SparkSession, dir: String): DataFrame =
    Checkpoints
      // narrow fan-out before the winnowing UDF (guide §2.5): the rolling
      // min-hash window otherwise runs in the one-task single-file scan;
      // no-op on a multi-split corpus
      .fanOut(Fixtures.table(s, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= lit(WinnowW + WinnowK - 1))
      .select(col("doc_id"), explode(winnowUdf(col("t"))).as("fp"))

  /** The (doc_id, fp, pos) frame behind the run-length decontamination
    * query — [[winnowFps]] plus the shingle position of each selected
    * fingerprint. */
  private def winnowFpsPos(s: SparkSession, dir: String): DataFrame =
    Checkpoints
      .fanOut(Fixtures.table(s, dir, "documents").select("doc_id", "text")) // see winnowFps
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= lit(WinnowW + WinnowK - 1))
      .select(col("doc_id"), explode(winnowPosUdf(col("t"))).as("s"))
      .select(col("doc_id"), col("s._1").as("fp"), col("s._2").as("pos"))

  /** DuckDB shingle-concat expression derived from [[WinnowK]] (t[i] || ' '
    * || t[i+1] || …) — generated, not hardcoded, so the oracle retunes with
    * the constant exactly like the Scala side. */
  private val shingleConcatSql: String =
    (0 until WinnowK).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")

  /** DuckDB twin of [[winnowFps]]: CTE `f` = (doc_id, fp). The window
    * arithmetic is derived from the same w/k constants. */
  private val winnowFpsSql: String =
    "WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS t FROM documents), " +
      s"g AS (SELECT doc_id, list_transform(range(1, len(t)-${WinnowK - 2}), i -> md5($shingleConcatSql)) AS hs FROM d WHERE len(t) >= ${WinnowW + WinnowK - 1}), " +
      s"f AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(hs)-${WinnowW - 2}), j -> list_min(hs[j:j+${WinnowW - 1}])))) AS fp FROM g)"

  /** DuckDB twin of [[winnowFpsPos]]: CTE `fp_pos` = (doc_id, fp, pos),
    * 1-based positions, leftmost-min tie-break via list_position. */
  private val winnowFpsPosSql: String =
    "WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS t FROM documents), " +
      s"g AS (SELECT doc_id, list_transform(range(1, len(t)-${WinnowK - 2}), i -> md5($shingleConcatSql)) AS hs FROM d WHERE len(t) >= ${WinnowW + WinnowK - 1}), " +
      s"w AS (SELECT doc_id, unnest(list_transform(range(1, len(hs)-${WinnowW - 2}), " +
      s"j -> {'fp': list_min(hs[j:j+${WinnowW - 1}]), 'pos': j - 1 + list_position(hs[j:j+${WinnowW - 1}], list_min(hs[j:j+${WinnowW - 1}]))})) AS s FROM g), " +
      "fp_pos AS (SELECT DISTINCT doc_id, s['fp'] AS fp, CAST(s['pos'] AS INT) AS pos FROM w)"

  /** Shared input for the near-dup benchmark queries: every document plus a
    * planted variant (last two tokens dropped, doc_id+10000), both reduced to
    * bigram shingles. Shingles, not unigrams: this corpus shares one
    * vocabulary, so unigram fingerprints collapse toward the corpus mean and
    * every LSH bucket goes quadratic (the same hazard function words pose on
    * natural text). A 2-token edit changes only ~2 shingles, so planted pairs
    * stay trivially near while unrelated docs spread across bucket space.
    */
  /** Compiled bigram shingler. Deliberately a UDF, not the equivalent
    * filter(transform(sequence(...))) chain: higher-order functions are
    * CodegenFallback in Spark — evaluated via the interpreted expression
    * tree at ~1 ms/doc on 200-token docs (measured: the shingle stage alone
    * was 9 s at sf0.1, and predicate pushdown re-evaluates it inside the
    * pushed filter too). Compiled sliding(2) is ~500× faster, which here
    * outweighs the usual functions-over-UDFs rule. */
  private val shingleUdf = udf { ts: Seq[String] =>
    if (ts == null) Seq.empty[String]
    else ts.iterator.sliding(2).withPartial(false).map(_.mkString(" ")).toSeq
  }

  /** 4-token shingles for the prefix-filtered sim join — see the
    * q_simjoin_prefix scaladoc for why the wider shingle (richer
    * vocabulary -> genuinely rare prefix tokens) is what makes the prefix
    * filter effective on a small-word-pool corpus. */
  private val shingle4Udf = udf { ts: Seq[String] =>
    if (ts == null) Seq.empty[String]
    else ts.iterator.sliding(4).withPartial(false).map(_.mkString(" ")).toSeq
  }

  private def plantedShingledCorpus(s: SparkSession, dir: String): DataFrame = {
    val toks = split(lower(col("text")), " ")
    // fan the narrow (id, text) rows out BEFORE shingling: the trailing
    // doc_id exchange parallelized every pass AFTER it, but the shingle
    // UDF itself still ran inside the one-task scan of the single-file
    // fixture (guide §2.5); no-op on a multi-split corpus
    val docs = Checkpoints.fanOut(Fixtures.table(s, dir, "documents").select("doc_id", "text"))
    val orig = docs.select(col("doc_id"), shingleUdf(toks).as("toks"))
    val variant = docs
      .select((col("doc_id") + Fixtures.PlantShift).as("doc_id"), shingleUdf(slice(toks, lit(1), greatest(size(toks) - 2, lit(1)))).as("toks"))
    // Hash-repartition AFTER shingling: (1) the one small parquet file gives
    // a single input partition, so without an exchange every downstream pass
    // runs on one core; (2) hash (not round-robin) partitioning on
    // purpose: round-robin repartition local-sorts rows by ALL columns for
    // retry determinism, and sorting by a 200-element string-array column
    // is a hidden multi-second cost. TRUNCATED because exchange reuse does
    // NOT reliably share this shuffle across the near-dup kernels' many
    // self-join/verify branches under AQE (r22 per-job profile: the corpus
    // scan+shingle re-ran once per branch, 6+ concurrent copies) — one
    // materialization serves every branch of whichever query consumes it.
    Checkpoints.truncate(
      orig.unionByName(variant).repartition(s.sparkContext.defaultParallelism, col("doc_id")))
  }

  /** Shared pair-overlap kernel of the exact similarity rows: distinct
    * bigram shingles per doc (bounded `doc_id < limit` verification
    * slice), inverted-index self-join on the shingle — never all-pairs —
    * to (a_id, b_id, shared count, set sizes). shingleUdf, not the
    * transform(sequence(...)) chain: higher-order functions are
    * CodegenFallback AND explode over a computed array re-evaluates it
    * per element — measured 2.2 s vs ~0.4 s here. */
  private def pairOverlap(s: SparkSession, dir: String, limit: Int): DataFrame = {
    val sh = Fixtures
      .table(s, dir, "documents")
      .filter(col("doc_id") < limit)
      .select(col("doc_id"), shingleUdf(split(lower(col("text")), " ")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("bg"))
      .distinct()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("a_id"), col("bg"))
    val b = sh.select(col("doc_id").as("b_id"), col("bg").as("bg2"))
    a.join(b, col("bg") === col("bg2") && col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
  }

  /** Exact bigram-Jaccard near-dup pairs on the bounded slice (the exact
    * baseline the LSH families approximate). */
  private def jaccardPairs(s: SparkSession, dir: String, limit: Int = 30): DataFrame =
    pairOverlap(s, dir, limit)
      .withColumn("jacc", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jacc") >= 0.05)

  /** marker tokens per language for the n-gram/stopword lang-ID heuristic */
  private val markers = Map(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "y"),
    "fr" -> Seq("le", "les", "et"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language-ID: count marker tokens per language, argmax with a fixed
    // precedence order (en > de > es > fr > unknown). Pure column arithmetic
    // → whole-stage codegen, embarrassingly parallel at any scale.
    "q_lang_id" -> { (s, dir) =>
      val toks = split(lower(col("text")), " ")
      def cnt(ws: Seq[String]) = size(filter(toks, t => t.isin(ws.map(lit(_)): _*)))
      val base = Fixtures
        .table(s, dir, "documents")
        .select(
          col("doc_id"),
          cnt(markers("en")).as("n_en"),
          cnt(markers("de")).as("n_de"),
          cnt(markers("es")).as("n_es"),
          cnt(markers("fr")).as("n_fr"))
      base
        .withColumn(
          "guess",
          when(col("n_en") > 0 && col("n_en") >= greatest(col("n_de"), col("n_es"), col("n_fr")), "en")
            .when(col("n_de") > 0 && col("n_de") >= greatest(col("n_es"), col("n_fr")), "de")
            .when(col("n_es") > 0 && col("n_es") >= col("n_fr"), "es")
            .when(col("n_fr") > 0, "fr")
            .otherwise("unknown"))
        .orderBy("doc_id")
    },
    // Quality scoring: token count, stopword ratio, mean token length,
    // digit count, bucketed verdict — the filters a pretraining pipeline
    // applies before anything expensive.
    "q_text_quality" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val stop = Seq("the", "a", "of", "and", "to")
      Fixtures
        .table(s, dir, "documents")
        .select(
          col("doc_id"),
          size(toks).as("n_toks"),
          size(filter(toks, t => t.isin(stop.map(lit(_)): _*))).as("stop_n"),
          col("n_chars"))
        .withColumn("stop_ratio", col("stop_n") / col("n_toks"))
        .withColumn("avg_tok_len", (col("n_chars") - (col("n_toks") - 1)) / col("n_toks"))
        .withColumn(
          "q_bucket",
          when(col("n_toks") >= 120 && col("stop_ratio") <= 0.2, "good")
            .when(col("n_toks") >= 60, "ok")
            .otherwise("short"))
        .drop("n_chars")
        .orderBy("doc_id")
    },
    // Token counting two ways: whitespace split vs a BPE-ish regex lexer
    // ([a-z]+|[0-9]+ runs), plus their ratio.
    "q_token_count" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("ws_n"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("re_n"))
        .withColumn("ratio", col("re_n") / col("ws_n"))
        .orderBy("doc_id")
    },
    // Shannon entropy of each doc's token distribution (nats) + distinct
    // token count — the repetition/diversity signal quality filters use.
    // Determinism: the Σ (c/n)·ln(n/c) fold runs over token counts sorted
    // by token, so both engines perform the identical IEEE addition
    // sequence (double sums don't commute); e6-scaled for the hash.
    "q_text_entropy" -> { (s, dir) =>
      val tc = Fixtures
        .table(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
      tc.groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("tok"), col("c")))).as("tcs"), sum("c").as("n"))
        .select(
          col("doc_id"),
          col("n").as("n_toks"),
          size(col("tcs")).as("n_unique"),
          e6(aggregate(
            col("tcs"),
            lit(0.0),
            (acc, x) =>
              acc + (x.getField("c").cast("double") / col("n")) *
                log(col("n").cast("double") / x.getField("c")))).as("ent_e6"))
        .orderBy("doc_id")
    },
    // Gopher-style repetition signals: within-doc duplicate-word and
    // duplicate-bigram fractions — the strongest cheap predictor of
    // low-quality/templated text (Rae et al. 2021 §A1.1 uses exactly these
    // duplicate-n-gram fractions as pretraining filters). MAP-ONLY: both
    // fractions come from per-row array ops (size vs array_distinct size),
    // so a 100-TB corpus scores in one scan with zero shuffles; the
    // fraction arithmetic divides exact ints in one double expression,
    // identical on both engines. Docs under 2 words have no bigrams (the
    // divisor would be 0) and are excluded by the same predicate in the
    // oracle.
    "q_text_repetition" -> { (s, dir) =>
      val w = split(lower(col("text")), " ")
      Fixtures
        .table(s, dir, "documents")
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= 2)
        .withColumn(
          "bg",
          expr("transform(sequence(1, size(w)-1), i -> concat(element_at(w,i), ' ', element_at(w,i+1)))"))
        .select(
          col("doc_id"),
          size(col("w")).cast("long").as("n_words"),
          e6(lit(1.0) - size(array_distinct(col("w"))).cast("double") / size(col("w")))
            .as("dup_word_e6"),
          e6(lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")))
            .as("dup_bigram_e6"))
        .orderBy("doc_id")
    },
    // Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    // the MOSS local document fingerprinting algorithm): hash every
    // 3-token shingle, slide a window of 4 hashes, keep each window's
    // MINIMUM — guarantees any shared run of >= w+k-1 tokens between two
    // docs shares at least one fingerprint (the property ad-hoc "every
    // Nth shingle" sampling lacks). Fingerprints are md5 hex strings:
    // both engines emit identical lowercase hex, and lexicographic min
    // is a shared total order, so no engine-specific numeric hashing is
    // needed. MAP-ONLY per doc, then one explode — at 100 TB the
    // (fp -> doc) inverted index this feeds is exactly the join key
    // space of the q_decontaminate / q_dedup_jaccard candidate stages.
    //
    // Implemented as ONE scalar UDF rather than nested array transforms:
    // a higher-order `transform` whose lambda references a prior projected
    // array column gets that column's whole expression substituted in by
    // CollapseProject, re-hashing the entire shingle array once per window
    // position — O(n^2) md5 calls per document, measured 275 s for the
    // sf0.1 corpus vs ~2 s for this linear-pass UDF.
    "q_fingerprint_winnow" -> { (s, dir) =>
      winnowFps(s, dir).orderBy("doc_id", "fp")
    },
    // Winnow-based near-dup CANDIDATE PAIRS — the consumer that makes the
    // fingerprints an index: docs sharing >= 2 winnow fingerprints, via the
    // inverted (fp -> doc) equi-join. The scale shape is the same as
    // q_dedup_jaccard's shingle index, but winnowing has already THINNED
    // the postings ~w× (only window minima survive) with the guaranteed-
    // overlap property intact, so the join input shrinks before any
    // shuffle. Fingerprint keys are md5 hex — uniform, no hot buckets
    // (max document-frequency 7 on this corpus). The fingerprint frame is
    // checkpointed so the self-join's two sides read it instead of
    // re-running the winnow UDF over the corpus twice.
    "q_dedup_winnow" -> { (s, dir) =>
      val raw = Checkpoints.truncate(winnowFps(s, dir))
      // discriminativeness guard (see WinnowMaxDf): census is map-side
      // combinable, hot set is tiny → broadcast anti-join
      val hot = raw
        .groupBy("fp")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > WinnowMaxDf)
        .select("fp")
      val fps = raw.join(broadcast(hot), Seq("fp"), "left_anti")
      val a = fps.select(col("fp"), col("doc_id").as("a_id"))
      val b = fps.select(col("fp"), col("doc_id").as("b_id"))
      a.join(b, "fp")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("a_id", "b_id")
    },
    // Run-length decontamination — what eval-contamination policies
    // actually threshold on: not "shares N fingerprints" but "shares a
    // token run of length >= L". The position-carrying winnow index makes
    // run length computable WITHOUT re-touching the text: matched
    // fingerprints of a genuinely shared region line up on one alignment
    // DIAGONAL (eval_pos - train_pos constant), and winnowing guarantees a
    // selected fingerprint at least every w positions inside the region —
    // so islands of diagonal matches with gaps <= w reconstruct the run,
    // and (max_pos - min_pos) + k lower-bounds its token length. All
    // per-diagonal work is window functions over the matched pairs (tiny —
    // candidates only); the corpus-sized stages are the same map-only
    // winnow pass + one fp equi-join as q_dedup_winnow.
    "q_decontam_runs" -> { (s, dir) =>
      val fps = Checkpoints.truncate(winnowFpsPos(s, dir))
      val train = fps
        .filter(col("doc_id") >= 20)
        .select(col("doc_id").as("train_id"), col("fp"), col("pos").as("pa"))
      val ev = fps
        .filter(col("doc_id") < 20)
        .select(col("doc_id").as("eval_id"), col("fp").as("fp2"), col("pos").as("pb"))
      // matched feeds BOTH aggregates (run islands + shared-fp counts):
      // checkpoint so the fp join runs once.
      val m = Checkpoints.truncate(
        train
          .join(ev, col("fp") === col("fp2"))
          .select(col("train_id"), col("eval_id"), col("fp"), col("pa"), (col("pb") - col("pa")).as("diag")))
      val wOrd = Window.partitionBy("train_id", "eval_id", "diag").orderBy("pa")
      val runs = m
        .select("train_id", "eval_id", "diag", "pa")
        .distinct()
        .withColumn("prev", lag("pa", 1).over(wOrd))
        .withColumn("brk", (col("prev").isNull || col("pa") - col("prev") > WinnowW).cast("int"))
        .withColumn("island", sum("brk").over(wOrd))
        .groupBy("train_id", "eval_id", "diag", "island")
        .agg((max("pa") - min("pa") + lit(WinnowK)).as("run_toks"))
        .groupBy("train_id", "eval_id")
        .agg(max("run_toks").as("max_run_toks"))
      m.select("train_id", "eval_id", "fp")
        .distinct()
        .groupBy("train_id", "eval_id")
        .agg(count(lit(1)).as("n_shared"))
        .join(runs, Seq("train_id", "eval_id"))
        .orderBy("train_id", "eval_id")
    },
    // Corpus-level term document-frequency — the stopword/boilerplate
    // discovery pass a cleaning pipeline runs before filtering: for every
    // token, how many docs contain it and whether it crosses the "common"
    // threshold (60% of the corpus). The corpus size joins in as a
    // broadcast 1-row aggregate — never a driver-side collect.
    // Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    // a doc whose text is dominated by one repeated 2-gram, or whose
    // words are mostly repeats, is machine/boilerplate junk a pretraining
    // pass drops. Per doc: dup_word_frac = 1 - distinct/total words, and
    // the CHARACTER fraction covered by occurrences of the single most
    // frequent bigram (count × bigram length / doc chars — Gopher's
    // "fraction of characters in most common n-gram"; ties break to the
    // lexicographically smallest bigram for determinism). Shape at
    // 100 TB: explode → (doc, bigram) count → per-doc top-1 window — two
    // doc_id-keyed shuffles, linear in corpus size, no cross-doc state.
    // keep = both signals under the published thresholds (0.2 / 0.3).
    "q_quality_gopher" -> { (s, dir) =>
      // narrow fan-out before the tokenize/shingle stage (guide §2.5): the
      // gates' regex/array work otherwise runs in the one-task scan of the
      // single-file fixture; no-op on a multi-split corpus
      val docs = Checkpoints.fanOut(
        Fixtures.table(s, dir, "documents").select("doc_id", "n_chars", "text"))
      val toks = docs.select(
        col("doc_id"),
        col("n_chars"),
        split(lower(col("text")), " ").as("toks"))
      val words = toks.select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_words"),
        size(array_distinct(col("toks"))).as("n_distinct"))
      val top = toks
        .select(col("doc_id"), explode(shingleUdf(col("toks"))).as("bg"))
        .groupBy("doc_id", "bg")
        .agg(count(lit(1)).as("cnt"))
        .withColumn(
          "rk",
          row_number().over(
            Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("bg"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("bg").as("top_bg"), col("cnt").as("top_bg_n"))
      // LEFT join: a sub-2-token doc yields no bigrams, but a junk filter
      // must still hand EVERY doc a verdict (degenerate docs are exactly
      // what it gates) — absent top-bigram defaults to ('', 0, frac 0)
      words
        .join(top, Seq("doc_id"), "left")
        .withColumn("top_bg", coalesce(col("top_bg"), lit("")))
        .withColumn("top_bg_n", coalesce(col("top_bg_n"), lit(0L)))
        .withColumn("dup_word_frac", (col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
        .withColumn("top_bg_char_frac", col("top_bg_n") * length(col("top_bg")).cast("double") / col("n_chars"))
        .select(
          col("doc_id"),
          col("n_words"),
          col("top_bg"),
          col("top_bg_n"),
          e6(col("dup_word_frac")).as("dup_word_frac_e6"),
          e6(col("top_bg_char_frac")).as("top_bg_char_frac_e6"),
          (col("top_bg_char_frac") < 0.2 && col("dup_word_frac") < 0.3).cast("int").as("keep"))
        .orderBy("doc_id")
    },
    // Corpus Zipf diagnostic: rank the vocabulary by collection frequency
    // and emit the head with each term's rank, frequency, corpus share,
    // and rank×freq product (≈ constant under Zipf's law — a corpus whose
    // head deviates hard is template/spam-skewed). One explode + one
    // token-keyed count + a top-k over a vocabulary-sized frame (the
    // vocabulary, not the corpus, bounds the window input — fine at any
    // corpus scale).
    "q_text_zipf" -> { (s, dir) =>
      val docs = Fixtures.table(s, dir, "documents")
      val tf = docs
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("freq"))
      val total = tf.agg(sum("freq").as("n_toks"))
      tf.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
        .filter(col("rank") <= 20)
        .select(
          col("rank"),
          col("tok"),
          col("freq"),
          e6(col("freq").cast("double") / col("n_toks")).as("share_e6"),
          (col("rank") * col("freq")).as("zipf_c"))
        .orderBy("rank")
    },
    "q_term_docfreq" -> { (s, dir) =>
      val docs = Fixtures.table(s, dir, "documents")
      val total = docs.agg(count(lit(1)).as("n_docs"))
      docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        .distinct()
        .groupBy("tok")
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(total))
        .select(
          col("tok"),
          col("df"),
          e6(col("df").cast("double") / col("n_docs")).as("share_e6"),
          (col("df").cast("double") / col("n_docs") >= 0.6).cast("int").as("is_common"))
        .orderBy("tok")
    },
    // Document fingerprint: polynomial rolling hash over per-token codes
    // (ascii(first char)·256 + length), mod 1e9+7 each step so the fold
    // stays in exact integer range on both engines.
    "q_doc_fingerprint" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "documents")
        .select(
          col("doc_id"),
          aggregate(
            transform(
              split(lower(col("text")), " "),
              t => ascii(t).cast("long") * 256 + length(t)),
            lit(7L),
            (h, v) => (h * 31 + v) % 1000000007L).as("fp"))
        .orderBy("doc_id")
    },
    // Near-dup pairs by exact bigram-shingle Jaccard on a 30-doc slice —
    // the exact baseline MinHash-LSH approximates at scale (cap_sim_lsh).
    "q_dedup_jaccard" -> { (s, dir) =>
      jaccardPairs(s, dir)
        .select(col("a_id"), col("b_id"), e6(col("jacc")).as("jacc_e6"))
        .orderBy("a_id", "b_id")
    },
    // CONTAINMENT near-dup pairs (Broder's resemblance/containment split):
    // cont = |A∩B| / min(|A|,|B|) — the doc-IN-doc signal symmetric
    // Jaccard structurally misses (a short doc quoted verbatim inside a
    // long one has tiny Jaccard but containment ≈ 1), which is exactly
    // the quote/boilerplate duplication a pretraining dedup pass must
    // catch. Same inverted-index kernel as q_dedup_jaccard (never
    // all-pairs; the bounded slice is the exact-verification tier — at
    // scale candidates come from the banded MinHash/winnow index and this
    // formula is the verify step), emitting the contained side (smaller
    // shingle set, ties → a_id) so downstream keeps the container doc.
    "q_dedup_containment" -> { (s, dir) =>
      pairOverlap(s, dir, limit = 60)
        .withColumn("cont", col("i") / least(col("na"), col("nb")))
        .filter(col("cont") >= 0.2)
        .select(
          col("a_id"),
          col("b_id"),
          e6(col("cont")).as("cont_e6"),
          when(col("na") <= col("nb"), col("a_id")).otherwise(col("b_id")).as("contained_id"))
        .orderBy("a_id", "b_id")
    },
    // Prefix-filtered exact similarity join (AllPairs / PPJoin family,
    // Bayardo et al. WWW 2007) over the FULL corpus — the scalable exact
    // counterpart to the 30-doc q_dedup_jaccard slice. Each doc's bigram
    // set is sorted by ascending global document frequency (rarest first;
    // ties by token text — any consistent TOTAL order works) and only its
    // first n - ceil(t*n) + 1 tokens are indexed: two sets with Jaccard
    // >= t MUST share a prefix token under a common total order, so the
    // candidate join touches rare tokens almost exclusively and the
    // frequent-token posting lists that blow up a naive shingle index never
    // form pairs. A length filter (min >= t*max) prunes before the distinct
    // and exact verification keeps only true pairs — same results as
    // all-pairs Jaccard, provably, at a fraction of the candidates. The
    // per-doc frame (sorted features + prefix) is checkpointed once and
    // feeds the index build AND both verify sides.
    //
    // Feature choice matters as much as the filter: 2-token shingles have
    // only ~10^3 distinct values on this corpus (median df ~285 — NO rare
    // tokens), so a frequency-ordered prefix can barely prune (measured
    // 4.1M candidates for 256 true pairs at sf0.1). 4-token shingles give
    // a ~2*10^5 vocabulary whose prefix tokens are genuinely rare:
    // candidates == true pairs exactly (256/256 measured) — the filter
    // does ALL the work and verification touches only real near-dups.
    //
    // DICTIONARY ENCODING (round 13): each shingle string (~35 bytes) is
    // replaced by a unique LONG id whose numeric order IS the (df, bg)
    // frequency order — range-partition + sort the vocab by (df, bg), then
    // monotonically_increasing_id() (partition ordinal << 33 | row ordinal,
    // ascending range partitions ⇒ globally order-preserving, no driver
    // pass, EXACT — no hash-collision caveat). The strings then never
    // leave the vocab frame: the per-doc groupBy, the array sort, the
    // candidate join key, and the verification all move 8-byte longs, ~4×
    // fewer shuffle bytes on every corpus-sized stage. The id assignment
    // rides the df join the plan already required. Each doc's ids are
    // sorted and distinct, so the verify is one sorted merge per pair
    // (`graft_intersect_size`), exact with no hash caveat.
    "q_simjoin_prefix" -> { (s, dir) =>
      val t = 0.6
      val feats = Checkpoints
        // narrow fan-out before the 4-shingle explode: the corpus-sized
        // feature build otherwise runs in the single-file scan's one task
        // (guide §2.5); no-op on a multi-split corpus
        .fanOut(Fixtures.table(s, dir, "documents").select("doc_id", "text"))
        .select(col("doc_id"), explode(shingle4Udf(split(lower(col("text")), " "))).as("bg"))
        .distinct()
      // dfreq is truncated BEFORE the range partitioning: repartitionByRange
      // bounds its ranges with a SAMPLING job over its child, which would
      // otherwise re-execute the corpus-sized explode→distinct→groupBy a
      // third time (measured ~3× the whole query's prior cost); sampling a
      // vocab-sized checkpoint is noise.
      val dfreq = Checkpoints.truncate(feats.groupBy("bg").agg(count(lit(1)).as("df")))
      val ids = dfreq
        .repartitionByRange(col("df"), col("bg"))
        .sortWithinPartitions("df", "bg")
        .select(col("bg"), monotonically_increasing_id().as("tid"))
      val docFeats = Checkpoints.truncate(
        feats
          .join(ids, Seq("bg"))
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("tid"))).as("toks"))
          .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
          .withColumn("pfx", expr(s"slice(toks, 1, n - CAST(ceil($t * n) AS INT) + 1)")))
      val a = docFeats.select(col("doc_id").as("a_id"), explode(col("pfx")).as("tid"), col("n").as("na"))
      val b = docFeats.select(col("doc_id").as("b_id"), explode(col("pfx")).as("tid"), col("n").as("nb"))
      val cands = a
        .join(b, Seq("tid"))
        .filter(
          col("a_id") < col("b_id") &&
            least(col("na"), col("nb")) >= lit(t) * greatest(col("na"), col("nb")))
        .select("a_id", "b_id")
        .distinct()
      cands
        .join(docFeats.select(col("doc_id").as("a_id"), col("toks").as("ta"), col("n").as("na")), Seq("a_id"))
        .join(docFeats.select(col("doc_id").as("b_id"), col("toks").as("tb"), col("n").as("nb")), Seq("b_id"))
        .withColumn("i", graft.functions.MinHash.intersectSize(col("ta"), col("tb")))
        .withColumn("jacc", col("i").cast("double") / (col("na") + col("nb") - col("i")))
        .filter(col("jacc") >= t)
        .select(col("a_id"), col("b_id"), e6(col("jacc")).as("jacc_e6"))
        .orderBy("a_id", "b_id")
    },
    // Near-dup pairs → dedup DECISION: connected components over the exact
    // Jaccard pair graph, each cluster's min doc_id is the canonical copy
    // and the rest are the delete set. Oracle: DuckDB recursive CTE
    // computing min-reachable-id per node — the hash-match proves the
    // label-propagation loop converges to true components.
    "q_dedup_clusters" -> { (s, dir) =>
      val verts = Fixtures.table(s, dir, "documents").filter(col("doc_id") < 30).select("doc_id")
      Components
        .connectedComponents(jaccardPairs(s, dir).select("a_id", "b_id"), verts, "doc_id")
        .select(
          col("id").as("doc_id"),
          col("comp"),
          (col("id") === col("comp")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    },
    // Dedup QA report — the summary a curation pipeline emits after the
    // cluster decision: how many clusters of each size, and how many rows
    // dedup would delete (size-1 per cluster, the non-canonical members).
    // Two map-side-combinable aggregations over the CC labels; at 100 TB
    // the histogram is tiny (distinct sizes), the shuffles are on comp then
    // cl_size — both uniform.
    "q_dedup_stats" -> { (s, dir) =>
      val verts = Fixtures.table(s, dir, "documents").filter(col("doc_id") < 30).select("doc_id")
      Components
        .connectedComponents(jaccardPairs(s, dir).select("a_id", "b_id"), verts, "doc_id")
        .groupBy("comp")
        .agg(count(lit(1)).as("cl_size"))
        .groupBy("cl_size")
        .agg(
          count(lit(1)).as("n_clusters"),
          sum(col("cl_size") - 1).as("n_dups"))
        .orderBy("cl_size")
    },
    // Same dedup decision through the alternating large-star/small-star
    // contraction (Components.connectedComponentsStar, O(log n) rounds on
    // any graph shape) — same recursive-CTE oracle as q_dedup_clusters, so
    // the hash-match proves the star algorithm end-to-end, not just the
    // ComponentsSpec equivalence.
    "q_dedup_clusters_star" -> { (s, dir) =>
      val verts = Fixtures.table(s, dir, "documents").filter(col("doc_id") < 30).select("doc_id")
      Components
        .connectedComponentsStar(jaccardPairs(s, dir).select("a_id", "b_id"), verts, "doc_id")
        .select(
          col("id").as("doc_id"),
          col("comp"),
          (col("id") === col("comp")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    },
    // INCREMENTAL dedup decision — the daily-batch form of the cluster
    // queries above: docs < 30 are "yesterday" (labels already computed
    // and persisted), docs 30..39 are today's batch. The delta pair list
    // is every near-dup pair touching a new doc (a_id < b_id, so b_id >=
    // 30 ⟺ at least one new endpoint); Components.incrementalComponents
    // merges it into the stored labels by solving CC on the delta-sized
    // comp-level graph only — the base edge list is never rebuilt and the
    // base label table is only probed (delta join) + remapped (broadcast).
    // Oracle: the FULL recompute over docs < 40 (recursive CTE), so the
    // hash-match proves merge ≡ recompute.
    "q_dedup_cc_incremental" -> { (s, dir) =>
      val docs = Fixtures.table(s, dir, "documents")
      val all40 = Checkpoints.truncate(jaccardPairs(s, dir, limit = 40).select("a_id", "b_id"))
      val baseLabels = Components.connectedComponents(
        all40.filter(col("b_id") < 30),
        docs.filter(col("doc_id") < 30).select("doc_id"),
        "doc_id")
      Components
        .incrementalComponents(
          baseLabels,
          all40.filter(col("b_id") >= 30),
          docs.filter(col("doc_id") >= 30 && col("doc_id") < 40).select("doc_id"),
          "doc_id")
        .select(
          col("id").as("doc_id"),
          col("comp"),
          (col("id") === col("comp")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    },
    // IVF-style ANN: coarse-quantize vectors into 16 sign-bit buckets on the
    // first 4 dims, search only within the query's bucket. The shape that
    // scales: bucket is the shuffle key, each bucket's candidates co-locate,
    // no all-pairs cross join. Recall vs exact k-NN is proven in ScalaTest.
    "q_sim_ann_ivf" -> { (s, dir) =>
      def bucket(c: Column) =
        when(element_at(c, 1) > 0, 8).otherwise(0) +
          when(element_at(c, 2) > 0, 4).otherwise(0) +
          when(element_at(c, 3) > 0, 2).otherwise(0) +
          when(element_at(c, 4) > 0, 1).otherwise(0)
      val e = Fixtures.table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), bucket(col("embedding")).as("bkt"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), bucket(col("embedding")).as("bkt2"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
      q.join(c, col("bkt") === col("bkt2") && col("q_id") =!= col("c_id"))
        .withColumn("cos", SimKernel.cosine(col("q_emb"), col("c_emb")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn").cast("int").as("rn"), col("c_id"), col("bkt"), e6(col("cos")).as("score_e6"))
        .orderBy("q_id", "rn")
    },
    // FILTERED ANN — production vector search is predicate + ANN ("nearest
    // among label-class-even"), and WHERE the filter lands decides recall:
    // filtering the candidate side BEFORE the bucket join returns the true
    // top-k of the filtered corpus, while filtering a post-ranked top-k
    // throws away rank slots on non-matching candidates and can return
    // FEWER than k (or worse) — the classic post-filter recall trap,
    // quantified in KMeansIvfSpec. Pre-filtering is also the scale move:
    // the predicate prunes candidates before they're shuffled on the
    // bucket key. Oracle: exact same semantics on the filtered slice.
    "q_sim_ann_filtered" -> { (s, dir) =>
      def bucket(c: Column) =
        when(element_at(c, 1) > 0, 8).otherwise(0) +
          when(element_at(c, 2) > 0, 4).otherwise(0) +
          when(element_at(c, 3) > 0, 2).otherwise(0) +
          when(element_at(c, 4) > 0, 1).otherwise(0)
      val e = Fixtures.table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), bucket(col("embedding")).as("bkt"))
      val c = e
        .filter(col("label") % 2 === 0) // metadata predicate BEFORE the bucket join
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), bucket(col("embedding")).as("bkt2"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
      q.join(c, col("bkt") === col("bkt2") && col("q_id") =!= col("c_id"))
        .withColumn("cos", SimKernel.cosine(col("q_emb"), col("c_emb")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn").cast("int").as("rn"), col("c_id"), col("bkt"), e6(col("cos")).as("score_e6"))
        .orderBy("q_id", "rn")
    },
    // SimHash banded near-dup pairs, declared (oracle-less — the 64-bit
    // token-hash loop has no DuckDB twin) so the bench tracks the banded
    // candidate join's cost every round; recall/completeness is proven by
    // SimHashSpec. Planted variants (each doc minus its last two tokens,
    // id+10000) give the join real near-dups to find. Features are bigram
    // shingles, not unigrams: this corpus shares one vocabulary, so unigram
    // simhashes collapse toward the corpus-mean signature and every band
    // bucket goes quadratic (a real hazard on any natural corpus — function
    // words dominate). Shingles are doc-specific, a 2-token edit changes
    // only ~2 of them, so planted pairs stay at Hamming <= 3 while unrelated
    // docs spread across the 16-bit bucket space. maxBucket=64 is the
    // production hot-bucket guard on top.
    "q_simhash_pairs" -> { (s, dir) =>
      graft.functions.SimHash
        .nearDuplicatePairs(plantedShingledCorpus(s, dir), "doc_id", "toks", maxHamming = 3, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },
    // Banded MinHash near-dup pairs over the same planted corpus — the
    // shingle→minhash→band→bucket-join dedup family, declared so the bench
    // tracks its cost each round. Oracle-less (the xxhash64 minhash has no
    // DuckDB twin; candidates are approximate) — recall vs the exact Jaccard
    // join is proven in MinHashSpec; the driver records a rows>0 check.
    // Candidates are verified with the exact Jaccard, so output pairs are
    // never false positives. See graft.functions.MinHash for the scale story
    // (and why Spark ML's OR-only MinHashLSH goes quadratic here).
    "q_minhash_pairs" -> { (s, dir) =>
      graft.functions.MinHash
        .nearDuplicatePairs(plantedShingledCorpus(s, dir), "doc_id", "toks", minJaccard = 0.8)
        .orderBy("a_id", "b_id")
    },
    // Random-hyperplane (SRP) LSH cosine near-dup pairs over all embeddings
    // plus planted variants (last two dims negated, vec_id+2^40 → exact
    // cosine ≈ 1 - 2·(mass of last 2 dims) ≈ 0.94), declared so the bench
    // tracks the third dedup family's banded join. Oracle-less (candidates
    // are approximate; recall vs the exact all-pairs join is proven in
    // CosineLshSpec); every output pair is verified with the exact cosine.
    "q_cosine_lsh_pairs" -> { (s, dir) =>
      val e = Fixtures.table(s, dir, "embeddings")
      val cut = size(col("embedding")) - 2
      val variantVec = concat(
        slice(col("embedding"), lit(1), cut),
        transform(slice(col("embedding"), cut + 1, lit(2)), x => negate(x)))
      val orig = e.select(col("vec_id"), col("embedding"))
      val variant = e.select((col("vec_id") + Fixtures.PlantShift).as("vec_id"), variantVec.as("embedding"))
      graft.functions.CosineLsh
        .nearDuplicatePairs(orig.unionByName(variant), "vec_id", "embedding", minCosine = 0.9)
        .orderBy("a_id", "b_id")
    },
    // The AT-SCALE semantic-dedup DECISION end-to-end — the banded
    // cosine-LSH candidate generator feeding the SAME Components CC +
    // canonical selection as the exact q_dedup_semantic (which is bounded
    // to a verification slice precisely because its pair stage is a
    // crossJoin). This row is the 100-TB path as a first-class tested
    // query over the FULL embeddings table plus the planted near-dup
    // variants (the q_cosine_lsh_pairs corpus, true cos ≈ 0.94): SRP
    // signatures map-only, the self-join shuffles on band values,
    // candidates exact-cosine-verified, CC O(diameter) rounds, canonical
    // = min vec_id. τ = 0.9 — the regime sign-random-projection LSH is
    // built for (at q_dedup_semantic's exploratory τ=0.3 an LSH would
    // need so many bands it degenerates toward all-pairs; low-τ
    // clustering is the exact row's job on a bounded slice). Oracle-less
    // (LSH recall < 1 by construction); CosineLshSpec proves ≥ 0.8 of
    // planted duplicate pairs land in one cluster with their canonical
    // chosen, and pair soundness is structural (exact-cosine recheck).
    "q_dedup_semantic_lsh" -> { (s, dir) =>
      val e = Fixtures.table(s, dir, "embeddings")
      val cut = size(col("embedding")) - 2
      val variantVec = concat(
        slice(col("embedding"), lit(1), cut),
        transform(slice(col("embedding"), cut + 1, lit(2)), x => negate(x)))
      val corpus = e
        .select(col("vec_id"), col("embedding"))
        .unionByName(e.select((col("vec_id") + Fixtures.PlantShift).as("vec_id"), variantVec.as("embedding")))
      val pairs = graft.functions.CosineLsh
        .nearDuplicatePairs(corpus, "vec_id", "embedding", minCosine = 0.9)
        .select("a_id", "b_id")
      Components
        .connectedComponents(pairs, corpus.select("vec_id"), "vec_id")
        .select(
          col("id").as("vec_id"),
          col("comp"),
          (col("id") === col("comp")).cast("int").as("is_canonical"))
        .orderBy("vec_id")
    },
    // Entity resolution end-to-end — the master-data operation a UPC/SKU
    // loader performs when retailer feeds spell the same product
    // differently: BLOCK (equi-join key = brand + last name token, so
    // candidate pairs exist only within a block — never all-pairs),
    // MATCH (levenshtein ≤ 2 on the name — the verify step), CLUSTER
    // (Components CC over match pairs), SURVIVE (golden record = the
    // min-id member's name). Planted variants (rec_id + 2^40, first
    // character of the name replaced) must resolve to their original;
    // organic near-names inside a block (e.g. 'old gear' vs 'hot gear',
    // distance 2) legitimately merge too — the recursive-CTE oracle
    // reproduces the full transitive closure, so the hash-match proves
    // blocking + matching + clustering + survivorship TOGETHER. At scale
    // the block key is the shuffle key and block sizes are bounded by
    // brand×token cardinality; skewed blocks would salt like any hot key.
    "q_entity_resolution" -> { (s, dir) =>
      val p = Fixtures.table(s, dir, "part")
      val recs = p
        .select(col("p_partkey").as("rec_id"), col("p_name").as("name"), col("p_brand"))
        .unionByName(p.select(
          (col("p_partkey") + Fixtures.PlantShift).as("rec_id"),
          concat(lit("z"), expr("substring(p_name, 2)")).as("name"),
          col("p_brand")))
      val blocked = recs.withColumn("blk", concat_ws("|", col("p_brand"), expr("split_part(name, ' ', 2)")))
      // TIER 1: exact-name collapse. Records with an identical (block,
      // name) form ONE proto-entity carrying (min rec_id, member count) —
      // the edit distance depends only on the name, so every member of a
      // name-group has identical edges and the transitive closure over
      // proto-entities equals the closure over raw records. Fuzzy matching
      // then runs on DISTINCT names only, shrinking the pair stage by the
      // SQUARE of the duplication factor (measured 7.4 s → well under 1 s
      // at sf0.1, where each name repeats ~25× per block) — the standard
      // two-tier entity-resolution design at scale.
      val proto = blocked
        .groupBy("blk", "name")
        .agg(min("rec_id").as("proto_id"), count(lit(1)).as("n_members"))
      val pairs = proto
        .select(col("blk"), col("proto_id").as("a_id"), col("name").as("a_name"))
        .join(
          proto.select(col("blk"), col("proto_id").as("b_id"), col("name").as("b_name")),
          Seq("blk"))
        .filter(col("a_id") < col("b_id") && levenshtein(col("a_name"), col("b_name")) <= 2)
        .select("a_id", "b_id")
      val lbl = Components.connectedComponents(pairs, proto.select("proto_id"), "proto_id")
      lbl
        .join(
          proto.select(col("proto_id").as("id"), col("n_members"), col("name")),
          Seq("id"))
        .groupBy(col("comp"))
        .agg(sum("n_members").as("n_records"))
        .filter(col("n_records") >= 2)
        .join(
          proto.select(col("proto_id"), col("name").as("golden_name")),
          col("comp") === col("proto_id"))
        .select(col("comp").as("canonical_id"), col("n_records"), col("golden_name"))
        .orderBy("canonical_id")
    },
    // Multimodal binary plumbing: treat payloads as opaque binary with typed
    // metadata — byte length, digest, head bytes. The decode stage itself is
    // stubbed in graft.multimodal (no media libs in this image); this query
    // proves the binary column path end-to-end.
    "q_multimodal_binary" -> { (s, dir) =>
      Fixtures
        .table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("b"))
        .select(
          col("doc_id"),
          length(col("b")).as("n_bytes"),
          md5(col("b")).as("digest"),
          hex(expr("substring(b, 1, 4)")).as("head4"))
        .orderBy("doc_id")
    },
    // Perceptual image near-dup pairs (dHash + banded Hamming join): every
    // document id gets a deterministic synthetic PNG — hash-mixed pixels
    // seeded by the motif doc_id % 40, plus a per-doc UNIFORM brightness
    // shift. A uniform shift is a monotone luma map, so same-motif images
    // have IDENTICAL dhash (every pairwise comparison preserved) while
    // cross-motif hashes are effectively random 64-bit values (expected
    // Hamming ~32) — the pair list is exactly the same-motif cliques. The
    // full pipeline runs end-to-end: render → PNG encode → binary column →
    // imageio decode → dhash/phash (map-only mapPartitions) → HammingPairs
    // banded join. Oracle-less by design (DCT/decode has no DuckDB twin);
    // recall and soundness against planted variants are proven in
    // PerceptualHashSpec.
    "q_img_phash" -> { (s, dir) =>
      import s.implicits._
      val docs = Fixtures.table(s, dir, "documents").select(col("doc_id"))
      // Motif count scales with the corpus so planted duplicate-CLIQUE size
      // stays ~125 regardless of SF: with a fixed 40 motifs the cliques —
      // and therefore the TRUE pair output — grow quadratically in corpus
      // size (measured 77 s at sf1 in the scaling study), which no engine
      // can beat because it's output volume, not join waste. Real corpora
      // don't grow duplicate cliques linearly with corpus size. ≤ 5000
      // docs (every driver SF) keeps the historical 40 motifs unchanged.
      val nMotifs = math.max(40L, docs.count() / 125L)
      // The id frame inherits the scan's partitioning — a single-row-group
      // parquet fixture yields ONE partition, serializing the render → PNG
      // encode → decode → DCT chain (measured 2.9 s of a 3.4 s warm run in
      // one task at sf0.1). Fanning the 8-byte ids out (NOT payloads — they
      // don't exist yet) parallelizes the decode; no-op on an
      // already-parallel scan (guide §2.5, unsplittable-input skew).
      val recs = Checkpoints
        .fanOut(docs)
        .as[Long]
        .map { id =>
          graft.multimodal.MediaRecord(id, "image", ExtraText.motifPng(id % nMotifs, (id % 11).toInt))
        }
      graft.multimodal.PerceptualHash
        .nearDuplicateImages(recs, "dhash", maxHamming = 3)
        .orderBy("a_id", "b_id")
    }
  )

  /** Deterministic 36×24 PNG for q_img_phash: per-pixel luma from a
    * splitmix-mixed hash of (motif, x, y), quantized to multiples of 25 in
    * 0..200, plus a uniform per-doc `shift` (0..10) — monotone, so dHash is
    * exactly shift-invariant and 200+10 never clamps. */
  def motifPng(motif: Long, shift: Int): Array[Byte] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val (w, h) = (36, 24)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = math.floorMod(mix(motif * 1000003L + y * 101L + x), 9L).toInt * 25 + shift
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  private def markerList(l: String) = markers(l).map(w => s"'$w'").mkString(",")

  val oracle: Map[String, String] = Map(
    "q_lang_id" ->
      (s"WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents), c AS (SELECT doc_id, CAST(len(list_filter(toks, x -> x IN (${markerList("en")}))) AS INT) AS n_en, CAST(len(list_filter(toks, x -> x IN (${markerList("de")}))) AS INT) AS n_de, CAST(len(list_filter(toks, x -> x IN (${markerList("es")}))) AS INT) AS n_es, CAST(len(list_filter(toks, x -> x IN (${markerList("fr")}))) AS INT) AS n_fr FROM t) SELECT doc_id, n_en, n_de, n_es, n_fr, CASE WHEN n_en > 0 AND n_en >= greatest(n_de, n_es, n_fr) THEN 'en' WHEN n_de > 0 AND n_de >= greatest(n_es, n_fr) THEN 'de' WHEN n_es > 0 AND n_es >= n_fr THEN 'es' WHEN n_fr > 0 THEN 'fr' ELSE 'unknown' END AS guess FROM c ORDER BY doc_id"),
    "q_text_quality" ->
      "WITH t AS (SELECT doc_id, n_chars, string_split(text,' ') AS toks FROM documents), c AS (SELECT doc_id, n_chars, CAST(len(toks) AS INT) AS n_toks, CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS INT) AS stop_n FROM t) SELECT doc_id, n_toks, stop_n, stop_n/n_toks AS stop_ratio, (n_chars - (n_toks - 1))/n_toks AS avg_tok_len, CASE WHEN n_toks >= 120 AND stop_n/n_toks <= 0.2 THEN 'good' WHEN n_toks >= 60 THEN 'ok' ELSE 'short' END AS q_bucket FROM c ORDER BY doc_id",
    "q_token_count" ->
      "SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS ws_n, CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS re_n, len(regexp_extract_all(text, '[a-z]+|[0-9]+'))*1.0/len(string_split(text,' ')) AS ratio FROM documents ORDER BY doc_id",
    "q_doc_fingerprint" ->
      "SELECT doc_id, CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(string_split(lower(text),' '), t -> CAST(ascii(t) AS BIGINT)*256 + length(t))), (h,v) -> (h*31 + v) % 1000000007) AS BIGINT) AS fp FROM documents ORDER BY doc_id",
    "q_quality_gopher" ->
      ("WITH t AS (SELECT doc_id, n_chars, string_split(lower(text),' ') AS toks FROM documents), " +
        "w AS (SELECT doc_id, n_chars, len(toks) AS n_words, len(list_distinct(toks)) AS n_distinct FROM t), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t), " +
        "c AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2), " +
        "top AS (SELECT doc_id, bg AS top_bg, cnt AS top_bg_n, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rk FROM c), " +
        "j AS (SELECT w.doc_id, n_words, coalesce(top_bg, '') AS top_bg, coalesce(top_bg_n, 0) AS top_bg_n, " +
        "CAST(n_words - n_distinct AS DOUBLE) / n_words AS dwf, " +
        "coalesce(top_bg_n, 0) * CAST(len(coalesce(top_bg, '')) AS DOUBLE) / n_chars AS tbf " +
        "FROM w LEFT JOIN top ON w.doc_id = top.doc_id AND rk = 1) " +
        "SELECT doc_id, n_words, top_bg, top_bg_n, " +
        "CAST(floor(dwf*1000000 + 0.5) AS BIGINT) AS dup_word_frac_e6, " +
        "CAST(floor(tbf*1000000 + 0.5) AS BIGINT) AS top_bg_char_frac_e6, " +
        "CAST(tbf < 0.2 AND dwf < 0.3 AS INT) AS keep " +
        "FROM j ORDER BY doc_id"),
    "q_text_zipf" ->
      ("WITH tf AS (SELECT tok, count(*) AS freq FROM (SELECT unnest(string_split(lower(text),' ')) AS tok FROM documents) GROUP BY tok), " +
        "n AS (SELECT sum(freq) AS n_toks FROM tf), " +
        "r AS (SELECT tok, freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank FROM tf) " +
        "SELECT rank, tok, freq, CAST(floor(CAST(freq AS DOUBLE)/n_toks*1000000 + 0.5) AS BIGINT) AS share_e6, " +
        "rank * freq AS zipf_c FROM r, n WHERE rank <= 20 ORDER BY rank"),
    "q_term_docfreq" ->
      ("WITH s AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(string_split(lower(text),' ')) AS tok FROM documents)), " +
        "f AS (SELECT tok, count(*) AS df FROM s GROUP BY tok), n AS (SELECT count(*) AS n_docs FROM documents) " +
        "SELECT tok, df, CAST(floor(CAST(df AS DOUBLE)/n_docs*1000000 + 0.5) AS BIGINT) AS share_e6, " +
        "CAST(CAST(df AS DOUBLE)/n_docs >= 0.6 AS INT) AS is_common FROM f CROSS JOIN n ORDER BY tok"),
    "q_text_entropy" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS tok FROM documents), " +
        "c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2), " +
        "g AS (SELECT doc_id, list(c ORDER BY tok) AS cs, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY doc_id) " +
        "SELECT doc_id, n AS n_toks, CAST(len(cs) AS INT) AS n_unique, " +
        "CAST(floor(list_reduce(list_transform(cs, x -> (CAST(x AS DOUBLE)/n) * ln(CAST(n AS DOUBLE)/x)), (p,v) -> p+v)*1000000 + 0.5) AS BIGINT) AS ent_e6 " +
        "FROM g ORDER BY doc_id"),
    "q_text_repetition" ->
      ("WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg FROM d WHERE len(w) >= 2) " +
        "SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(floor((1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w))*1000000 + 0.5) AS BIGINT) AS dup_word_e6, " +
        "CAST(floor((1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)/len(bg))*1000000 + 0.5) AS BIGINT) AS dup_bigram_e6 " +
        "FROM b ORDER BY doc_id"),
    "q_fingerprint_winnow" ->
      (winnowFpsSql + " SELECT doc_id, fp FROM f ORDER BY doc_id, fp"),
    "q_dedup_winnow" ->
      (winnowFpsSql +
        s", fc AS (SELECT doc_id, fp FROM f WHERE fp NOT IN " +
        s"(SELECT fp FROM f GROUP BY fp HAVING count(*) > $WinnowMaxDf)), " +
        "p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM fc a JOIN fc b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT a_id, b_id, n_shared FROM p WHERE n_shared >= 2 ORDER BY a_id, b_id"),
    "q_decontam_runs" ->
      (winnowFpsPosSql +
        ", j AS (SELECT a.doc_id AS train_id, b.doc_id AS eval_id, a.fp AS fp, a.pos AS pa, b.pos - a.pos AS diag " +
        "FROM fp_pos a JOIN fp_pos b ON a.fp = b.fp AND a.doc_id >= 20 AND b.doc_id < 20), " +
        "dd AS (SELECT DISTINCT train_id, eval_id, diag, pa FROM j), " +
        "l AS (SELECT train_id, eval_id, diag, pa, lag(pa) OVER (PARTITION BY train_id, eval_id, diag ORDER BY pa) AS prev FROM dd), " +
        s"f2 AS (SELECT train_id, eval_id, diag, pa, CASE WHEN prev IS NULL OR pa - prev > $WinnowW THEN 1 ELSE 0 END AS brk FROM l), " +
        "g2 AS (SELECT train_id, eval_id, diag, pa, sum(brk) OVER (PARTITION BY train_id, eval_id, diag ORDER BY pa) AS island FROM f2), " +
        s"r AS (SELECT train_id, eval_id, diag, island, max(pa) - min(pa) + $WinnowK AS run_toks FROM g2 GROUP BY 1, 2, 3, 4), " +
        "mx AS (SELECT train_id, eval_id, CAST(max(run_toks) AS INT) AS max_run_toks FROM r GROUP BY 1, 2), " +
        "ns AS (SELECT train_id, eval_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_shared FROM j GROUP BY 1, 2) " +
        "SELECT train_id, eval_id, n_shared, max_run_toks FROM ns JOIN mx USING (train_id, eval_id) " +
        "ORDER BY train_id, eval_id"),
    "q_dedup_jaccard" ->
      "WITH s AS (SELECT DISTINCT doc_id, bg FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents WHERE doc_id < 30))), sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id), inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM s a JOIN s b ON a.bg = b.bg AND a.doc_id < b.doc_id GROUP BY 1, 2), j AS (SELECT a_id, b_id, i/(sa.n + sb.n - i) AS jacc FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id) SELECT a_id, b_id, CAST(floor(jacc*1000000 + 0.5) AS BIGINT) AS jacc_e6 FROM j WHERE jacc >= 0.05 ORDER BY a_id, b_id",
    "q_dedup_containment" ->
      ("WITH s AS (SELECT DISTINCT doc_id, bg FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents WHERE doc_id < 60))), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM s a JOIN s b ON a.bg = b.bg AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "j AS (SELECT a_id, b_id, sa.n AS na, sb.n AS nb, i/least(sa.n, sb.n) AS cont FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id) " +
        "SELECT a_id, b_id, CAST(floor(cont*1000000 + 0.5) AS BIGINT) AS cont_e6, CAST(CASE WHEN na <= nb THEN a_id ELSE b_id END AS BIGINT) AS contained_id " +
        "FROM j WHERE cont >= 0.2 ORDER BY a_id, b_id"),
    // brute-force all-pairs over every doc pair sharing >= 1 bigram —
    // complete for any t > 0, so the hash-match proves the prefix filter
    // loses nothing on this corpus
    "q_simjoin_prefix" ->
      ("WITH s AS (SELECT DISTINCT doc_id, bg FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)-2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS bg FROM (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents))), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM s a JOIN s b ON a.bg = b.bg AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "j AS (SELECT a_id, b_id, i*1.0/(sa.n + sb.n - i) AS jacc FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id) " +
        "SELECT a_id, b_id, CAST(floor(jacc*1000000 + 0.5) AS BIGINT) AS jacc_e6 FROM j WHERE jacc >= 0.6 ORDER BY a_id, b_id"),
    "q_dedup_clusters" ->
      "WITH RECURSIVE s AS (SELECT DISTINCT doc_id, bg FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents WHERE doc_id < 30))), sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id), inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM s a JOIN s b ON a.bg = b.bg AND a.doc_id < b.doc_id GROUP BY 1, 2), pr AS (SELECT a_id, b_id FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id WHERE i/(sa.n + sb.n - i) >= 0.05), verts AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 30), e AS (SELECT a_id AS s2, b_id AS d FROM pr UNION ALL SELECT b_id, a_id FROM pr), reach(node, m) AS (SELECT doc_id, doc_id FROM verts UNION SELECT e.s2, r.m FROM e JOIN reach r ON e.d = r.node) SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS comp, CAST(node = min(m) AS INT) AS is_canonical FROM reach GROUP BY node ORDER BY doc_id",
    "q_dedup_stats" ->
      "WITH RECURSIVE s AS (SELECT DISTINCT doc_id, bg FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents WHERE doc_id < 30))), sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id), inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM s a JOIN s b ON a.bg = b.bg AND a.doc_id < b.doc_id GROUP BY 1, 2), pr AS (SELECT a_id, b_id FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id WHERE i/(sa.n + sb.n - i) >= 0.05), verts AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 30), e AS (SELECT a_id AS s2, b_id AS d FROM pr UNION ALL SELECT b_id, a_id FROM pr), reach(node, m) AS (SELECT doc_id, doc_id FROM verts UNION SELECT e.s2, r.m FROM e JOIN reach r ON e.d = r.node), lbl AS (SELECT node, min(m) AS comp FROM reach GROUP BY node), cl AS (SELECT comp, CAST(count(*) AS BIGINT) AS cl_size FROM lbl GROUP BY comp) SELECT cl_size, count(*) AS n_clusters, CAST(sum(cl_size - 1) AS BIGINT) AS n_dups FROM cl GROUP BY cl_size ORDER BY cl_size",
    "q_dedup_clusters_star" ->
      "WITH RECURSIVE s AS (SELECT DISTINCT doc_id, bg FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents WHERE doc_id < 30))), sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id), inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM s a JOIN s b ON a.bg = b.bg AND a.doc_id < b.doc_id GROUP BY 1, 2), pr AS (SELECT a_id, b_id FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id WHERE i/(sa.n + sb.n - i) >= 0.05), verts AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 30), e AS (SELECT a_id AS s2, b_id AS d FROM pr UNION ALL SELECT b_id, a_id FROM pr), reach(node, m) AS (SELECT doc_id, doc_id FROM verts UNION SELECT e.s2, r.m FROM e JOIN reach r ON e.d = r.node) SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS comp, CAST(node = min(m) AS INT) AS is_canonical FROM reach GROUP BY node ORDER BY doc_id",
    // full recompute over docs < 40 — merge ≡ recompute is the check
    "q_dedup_cc_incremental" ->
      "WITH RECURSIVE s AS (SELECT DISTINCT doc_id, bg FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents WHERE doc_id < 40))), sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id), inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM s a JOIN s b ON a.bg = b.bg AND a.doc_id < b.doc_id GROUP BY 1, 2), pr AS (SELECT a_id, b_id FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id WHERE i/(sa.n + sb.n - i) >= 0.05), verts AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 40), e AS (SELECT a_id AS s2, b_id AS d FROM pr UNION ALL SELECT b_id, a_id FROM pr), reach(node, m) AS (SELECT doc_id, doc_id FROM verts UNION SELECT e.s2, r.m FROM e JOIN reach r ON e.d = r.node) SELECT node AS doc_id, CAST(min(m) AS BIGINT) AS comp, CAST(node = min(m) AS INT) AS is_canonical FROM reach GROUP BY node ORDER BY doc_id",
    "q_sim_ann_ivf" ->
      ("WITH e AS (SELECT vec_id, embedding, (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bkt FROM embeddings), s AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.bkt, " +
        SimKernel.cosSql("q.embedding", "c.embedding") +
        " AS cos FROM e q JOIN e c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id WHERE q.vec_id < 20), r AS (SELECT q_id, c_id, bkt, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM s) SELECT q_id, CAST(rn AS INT) AS rn, c_id, CAST(bkt AS INT) AS bkt, CAST(floor(cos*1000000 + 0.5) AS BIGINT) AS score_e6 FROM r WHERE rn <= 3 ORDER BY q_id, rn"),
    "q_sim_ann_filtered" ->
      ("WITH e AS (SELECT vec_id, embedding, label, (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bkt FROM embeddings), s AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.bkt, " +
        SimKernel.cosSql("q.embedding", "c.embedding") +
        " AS cos FROM e q JOIN e c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id AND c.label % 2 = 0 WHERE q.vec_id < 20), r AS (SELECT q_id, c_id, bkt, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM s) SELECT q_id, CAST(rn AS INT) AS rn, c_id, CAST(bkt AS INT) AS bkt, CAST(floor(cos*1000000 + 0.5) AS BIGINT) AS score_e6 FROM r WHERE rn <= 3 ORDER BY q_id, rn"),
    "q_multimodal_binary" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, md5(text) AS digest, hex(encode(substring(text,1,4))) AS head4 FROM documents ORDER BY doc_id",
    "q_entity_resolution" ->
      ("WITH RECURSIVE recs AS (SELECT p_partkey AS rec_id, p_name AS name, p_brand FROM part " +
        "UNION ALL SELECT p_partkey + 1099511627776, 'z' || substring(p_name, 2), p_brand FROM part), " +
        "blk AS (SELECT rec_id, name, p_brand || '|' || split_part(name, ' ', 2) AS blk FROM recs), " +
        "pr AS (SELECT a.rec_id AS a_id, b.rec_id AS b_id FROM blk a JOIN blk b ON a.blk = b.blk " +
        "AND a.rec_id < b.rec_id AND levenshtein(a.name, b.name) <= 2), " +
        "e AS (SELECT a_id AS s2, d FROM (SELECT a_id, b_id AS d FROM pr) UNION ALL SELECT b_id, a_id FROM pr), " +
        "reach(node, m) AS (SELECT rec_id, rec_id FROM recs UNION SELECT e.s2, r.m FROM e JOIN reach r ON e.d = r.node), " +
        "lbl AS (SELECT node, min(m) AS comp FROM reach GROUP BY node), " +
        "cl AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_records FROM lbl GROUP BY comp) " +
        "SELECT CAST(comp AS BIGINT) AS canonical_id, n_records, recs.name AS golden_name " +
        "FROM cl JOIN recs ON recs.rec_id = cl.comp WHERE n_records >= 2 ORDER BY canonical_id")
  )
}
