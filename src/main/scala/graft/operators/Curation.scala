package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, QueryModule, Tables}

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond per-document text analysis: eval-set decontamination, corpus-wide
  * paragraph dedup, token-budget sequence packing, deterministic epoch
  * shuffling, PII redaction, unigram-LM scoring, and reproducible
  * hash-based sampling. Everything is expression-pipeline + equi-join /
  * window — no UDFs, no cartesian products, no driver-side loops.
  *
  * Scale notes are inline per query; the common theme: candidate
  * generation always goes through an inverted-index equi-join or a
  * hash-partitioned window, never all-pairs, and the only broadcast sides
  * are ones that are genuinely bounded (the eval split, the vocabulary).
  */
object Curation extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Non-empty whitespace tokens — the native SpaceTokens expression
    * (round-17): one native pass, no per-element interpreted lambda, and
    * the subtree canonicalizes so twin pipelines share exchanges. */
  private def tokens(c: Column): Column = call_function("space_tokens", c)

  /** DuckDB fragment replaying Spark's
    * conv(substring(md5(f), 1, 12), 16, 10) — the first 12 hex digits
    * of md5 as a BIGINT (48 bits, exact on both engines). */
  private val Md5Bucket12: String = (1 to 12).map { k =>
    val coef = math.pow(16, (12 - k).toDouble).toLong
    s"(strpos('0123456789abcdef', substr(md5(f), $k, 1)) - 1) * $coef"
  }.mkString(" + ")

  /** The DSIR hashed-feature stream (doc_id, lang, b): unigrams ∪
    * bigrams md5-hashed into B = 1024 buckets — shared by the batch
    * resampler, the incremental-LM variant and the streaming-parity
    * spec. Constant bucket count is the point of hashed features: the
    * LM state stays ≤ B rows at any corpus size. */
  private[graft] def dsirFeatureBuckets(s: SparkSession, dir: String)
      : DataFrame = dsirFeatureBucketsOf(docs(s, dir))

  /** Same transform over an arbitrary (doc_id, lang, text) frame — the
    * streaming-parity spec applies it per micro-batch.
    *
    * LAMBDA-FREE construction (round-16 optimization): the old
    * zip_with(slice, slice, concat_ws) spelling dispatched an
    * interpreted lambda per token AND — because NamedLambdaVariable ids
    * never canonicalize equal — made every consumer's plan subtree
    * unshareable, so the two-pass DSIR queries re-ran the whole feature
    * pipeline per pass with no exchange reuse. arrays_zip pads the
    * shifted slice with one trailing null, so each (w1, w2) struct
    * yields its unigram plus (when w2 is non-null) its bigram via a
    * CASE-built array — same feature multiset, zero lambdas, and the
    * subtree now canonicalizes for ReuseExchange. */
  private[graft] def dsirFeatureBucketsOf(docsDf: DataFrame): DataFrame = {
    val n = size(col("ts"))
    docsDf
      .select(col("doc_id"), col("lang"),
        tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("lang"),
        explode(arrays_zip(col("ts").as("w1"),
          slice(col("ts"), lit(2), greatest(n - 1, lit(0))).as("w2")))
          .as("p"))
      .select(col("doc_id"), col("lang"),
        explode(when(col("p.w2").isNull, array(col("p.w1")))
          .otherwise(array(col("p.w1"),
            concat(col("p.w1"), lit(" "), col("p.w2"))))).as("f"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("f")), 1, 12), 16, 10).cast("long")
          % 1024L).as("b"))
  }

  /** Per-(doc, lang, bucket) feature counts — ONE feature pass whose
    * exchange every DSIR consumer shares (ReuseExchange): the LM fit
    * re-aggregates these counts by bucket and the scorer weights them
    * by the broadcast LM, so the corpus is tokenized/hashed ONCE per
    * query instead of once per pass. Counts are exact, so every figure
    * derived downstream is bit-identical to the per-row form. */
  private[graft] def dsirBucketCounts(s: SparkSession, dir: String)
      : DataFrame =
    dsirFeatureBuckets(s, dir)
      .groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("cnt"))

  /** Per-batch DSIR LM partial state (batch, b, cs, ct) — the additive,
    * checkpointable counts a continuously-running pipeline persists per
    * ingest batch; prefix LMs merge these by re-aggregation, never by
    * rescanning raw text. Batch = doc_id % 3 (deterministic,
    * engine-replayable ingest split). */
  private[graft] def dsirBatchState(s: SparkSession, dir: String)
      : DataFrame =
    dsirBucketCounts(s, dir)
      .withColumn("batch", pmod(col("doc_id"), lit(3L)))
      .groupBy("batch", "b")
      .agg(sum("cnt").as("cs"),
        sum(when(col("lang") === "en", col("cnt")).otherwise(lit(0L)))
          .as("ct"))

  /** Scalable global row_number() OVER (ORDER BY keys): range-partition
    * on the sort keys (ordered partitions are the RangePartitioner
    * contract), sort within each partition, then add exclusive
    * prefix-sum offsets of the per-partition counts. Numbering is
    * identical to the single-partition global window for any TOTAL key
    * order, but no stage ever collapses to one task — the TeraSort
    * shape. The offset frame is ≤ `parts` rows (metadata, not data), so
    * its own single-partition window is bounded by the partition count,
    * and it broadcasts back to the sorted data. `ranged` is persisted
    * because both the counts and the final join consume it — without
    * the persist the range-sample + shuffle + sort would run twice
    * (callers release it via clearCache).
    *
    * Partition count follows spark.sql.shuffle.partitions (like every
    * other shuffle in the job) rather than a fixed constant, so the
    * per-task sort stays ~constant-size as the cluster and data scale
    * together; callers can still pin it for tests. */
  private def globalRowNumber(df: DataFrame, keys: Seq[Column],
      outCol: String, parts: Int = 0): DataFrame = {
    val nParts =
      if (parts > 0) parts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(nParts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    // pmod(__pid, 1) = constant 0 but NON-foldable: same single
    // partition as an empty spec (the frame is ≤ `parts` metadata
    // rows), minus WindowExec's "No Partition Defined" warning —
    // lit(0) would be folded away by EliminateWindowPartitions
    val offsets = ranged.groupBy("__pid").count()
      .withColumn("__off",
        coalesce(sum(col("count")).over(
          Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    ranged.join(broadcast(offsets), "__pid")
      .withColumn(outCol,
        (col("__off") + row_number().over(
          Window.partitionBy("__pid").orderBy(keys: _*))).cast("long"))
      .drop("__pid", "__off")
  }

  /** Word trigrams (space-joined) per document, DISTINCT within a doc —
    * the native TrigramShingles expression (one eval per row; the HOF
    * spelling dispatches interpreted lambdas per element). n=3 on this
    * synthetic ~31-word vocab plays the role 8–13-grams play on natural
    * text (same mechanism, observable overlap signal).
    */
  private def docGrams(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"),
        explode(call_function("trigram_shingles",
          split(col("text"), " "))).as("g"))
  }

  val all: Seq[Q] = Seq(

    // ---- Eval-set decontamination: flag training docs sharing word
    // n-grams with a held-out eval split (doc_id % 97 == 0 stands in for
    // the benchmark set). Scale: the eval side is bounded (benchmarks are
    // small) → broadcast; the train side streams through an equi-join on
    // the gram — an inverted index, never doc×doc. At 100 TB the gram
    // strings would be xxhash64-ed to 8-byte keys before the join; kept
    // as strings here so the DuckDB oracle can share the key space. ----
    Q(
      "curate_decontam_ngram_overlap",
      Some("""
        WITH toks AS (
          SELECT doc_id, ts FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents) WHERE len(ts) >= 3),
        grams AS (
          SELECT DISTINCT doc_id, array_to_string(ts[i+1:i+3], ' ') AS g
          FROM toks, unnest(range(len(ts) - 2)) AS t(i)),
        ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        tr AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
        tot AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id),
        hits AS (SELECT tr.doc_id, count(*) AS n_shared
                 FROM tr JOIN ev USING (g) GROUP BY tr.doc_id)
        SELECT h.doc_id, CAST(h.n_shared AS BIGINT) AS n_shared,
               CAST(t.n_grams AS BIGINT) AS n_grams,
               round(h.n_shared / t.n_grams, 6) AS overlap_ratio
        FROM hits h JOIN tot t USING (doc_id) ORDER BY doc_id"""),
      (s, dir) => {
        val grams = docGrams(s, dir)
        val ev = grams.filter(col("doc_id") % 97 === 0).select("g").distinct()
        val tr = grams.filter(col("doc_id") % 97 =!= 0)
        val tot = tr.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        tr.join(broadcast(ev), "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          .join(tot, "doc_id")
          .select(col("doc_id"), col("n_shared"), col("n_grams"),
            round(col("n_shared") / col("n_grams"), 6).as("overlap_ratio"))
          .orderBy("doc_id")
      }),

    // ---- Corpus-wide paragraph dedup (C4-style): split every doc into
    // 4-token chunks, keep only the globally-first occurrence of each
    // chunk (by doc_id, then position), reassemble the surviving text.
    // Scale: one shuffle hash-partitioned by chunk content for the
    // keep-first window, one by doc_id for reassembly — both scale-free
    // in key width (at 100 TB the chunk would be replaced by its
    // 16-byte digest in the window key). ----
    Q(
      "curate_paragraph_dedup",
      Some("""
        WITH toks AS (
          SELECT doc_id, ts FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents) WHERE len(ts) > 0),
        ch AS (
          SELECT doc_id, i AS idx,
                 array_to_string(ts[i*4+1:i*4+4], ' ') AS chunk
          FROM toks, unnest(range((len(ts) + 3) // 4)) AS t(i)),
        mk AS (
          SELECT *, row_number() OVER
                   (PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS keep
          FROM ch)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
               string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE keep)
                 AS dedup_text
        FROM mk GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .filter(size(col("ts")) > 0)
        val chunks = toks.select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), ((size(col("ts")) + 3) / 4).cast("int") - 1),
            i => array_join(slice(col("ts"), i * 4 + 1, lit(4)), " "))))
          .toDF("doc_id", "idx", "chunk")
        val keep = row_number().over(
          Window.partitionBy("chunk").orderBy("doc_id", "idx")) === 1
        chunks.withColumn("keep", keep)
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            collect_list(when(col("keep"),
              struct(col("idx"), col("chunk")))).as("kept"))
          .select(col("doc_id"), col("n_chunks"),
            size(col("kept")).cast("long").as("n_kept"),
            when(size(col("kept")) === 0, lit(null).cast("string"))
              .otherwise(array_join(
                transform(array_sort(col("kept")), x => x.getField("chunk")),
                " ")).as("dedup_text"))
          .orderBy("doc_id")
      }),

    // ---- Sequence packing: concat-then-chunk docs into fixed 512-token
    // training bins, per language, in deterministic doc_id order. Each
    // doc's bin and intra-bin offset come from the running token count
    // before it. Scale: a per-lang window cumsum = range-partition by
    // (lang, doc_id) then a single sorted pass — no global sort, no
    // driver state; exactly how you'd lay out packed sequences for a
    // tokenizer fleet. ----
    Q(
      "curate_pack_sequences",
      Some("""
        WITH nt AS (
          SELECT doc_id, lang,
                 CAST(len(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS BIGINT) AS n_tokens
          FROM documents),
        pf AS (
          SELECT doc_id, lang, n_tokens,
                 COALESCE(sum(n_tokens) OVER (PARTITION BY lang
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS prefix
          FROM nt)
        SELECT doc_id, lang, n_tokens,
               CAST(prefix // 512 AS BIGINT) AS bin_id,
               CAST(prefix % 512 AS BIGINT) AS bin_offset
        FROM pf ORDER BY doc_id"""),
      (s, dir) => {
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        docs(s, dir)
          .select(col("doc_id"), col("lang"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("prefix", coalesce(sum("n_tokens").over(w), lit(0L)))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            floor(col("prefix") / 512).as("bin_id"),
            (col("prefix") % 512).as("bin_offset"))
          .orderBy("doc_id")
      }),

    // ---- Deterministic epoch shuffle: reproducible global training
    // order per epoch via md5(doc_id, epoch-seed) sort keys. Scale: this
    // IS a global sort (range-partitioned TeraSort shape) — the standard
    // way to materialize a shuffled epoch without driver-side RNG state;
    // changing the seed string reshuffles without touching the data. ----
    Q(
      "curate_epoch_shuffle",
      Some("""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY
                 md5(doc_id::VARCHAR || ':e1'), doc_id) AS BIGINT)
                 AS pos_epoch1,
               CAST(row_number() OVER (ORDER BY
                 md5(doc_id::VARCHAR || ':e2'), doc_id) AS BIGINT)
                 AS pos_epoch2
        FROM documents ORDER BY doc_id"""),
      (s, dir) => {
        // each epoch's numbering runs through the range-partitioned
        // globalRowNumber (TeraSort shape) — identical output to a
        // global window, no single-partition stage
        def keys(seed: String) = Seq(
          md5(concat(col("doc_id").cast("string"), lit(seed))),
          col("doc_id"))
        val base = docs(s, dir).select(col("doc_id"))
        val e1 = globalRowNumber(base, keys(":e1"), "pos_epoch1")
          .select("doc_id", "pos_epoch1")
        val e2 = globalRowNumber(base, keys(":e2"), "pos_epoch2")
          .select("doc_id", "pos_epoch2")
        e1.join(e2, "doc_id").orderBy("doc_id")
      }),

    // ---- PII redaction: inject synthetic identifiers (the corpus has
    // none), then strip emails and digit runs with counted replacements;
    // the md5 digest pins the exact redacted output. Scale: pure per-row
    // regex in whole-stage codegen — no shuffle at all before the final
    // ORDER BY. DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-all. ----
    Q(
      "curate_pii_redact",
      Some("""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id::VARCHAR ||
                 '@example.com or code-' || (doc_id*7)::VARCHAR AS t
          FROM documents),
        r1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t,
                   '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_emails,
                 regexp_replace(t, '[a-z0-9]+@[a-z]+\.[a-z]+',
                   '<EMAIL>', 'g') AS t1
          FROM aug)
        SELECT doc_id, n_emails,
               CAST(len(regexp_extract_all(t1, '[0-9]+')) AS BIGINT)
                 AS n_numbers,
               md5(regexp_replace(t1, '[0-9]+', '<NUM>', 'g'))
                 AS redacted_digest
        FROM r1 ORDER BY doc_id"""),
      (s, dir) => {
        val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val aug = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or code-"),
          (col("doc_id") * 7).cast("string"))
        docs(s, dir)
          .select(col("doc_id"),
            regexp_count(aug, lit(emailPat)).cast("long").as("n_emails"),
            regexp_replace(aug, emailPat, "<EMAIL>").as("t1"))
          .select(col("doc_id"), col("n_emails"),
            regexp_count(col("t1"), lit("[0-9]+")).cast("long")
              .as("n_numbers"),
            md5(regexp_replace(col("t1"), "[0-9]+", "<NUM>"))
              .as("redacted_digest"))
          .orderBy("doc_id")
      }),

    // ---- HTML boilerplate stripping (the CommonCrawl-style extraction
    // step): the corpus has no markup, so — same discipline as
    // curate_pii_redact's synthetic identifiers — each doc is wrapped
    // in deterministic chrome (title/nav/footer derived from doc_id),
    // then the extractor removes nav/footer SUBTREES (content and all,
    // non-greedy tag-pair match), strips remaining tags, and collapses
    // whitespace. The md5 digest pins the exact extracted text; the
    // retained ratio is the extraction-quality signal a pipeline
    // thresholds on. Scale: pure per-row regex in whole-stage codegen,
    // zero shuffles before the oracle ORDER BY. ----
    Q(
      "curate_html_strip",
      Some("""
        WITH aug AS (
          SELECT doc_id,
                 '<html><head><title>doc ' || doc_id::VARCHAR ||
                 '</title></head><body><nav>home | products | about' ||
                 '</nav><p>' || text || '</p><footer>© site ' ||
                 (doc_id % 97)::VARCHAR || '</footer></body></html>'
                   AS html
          FROM documents),
        sub AS (
          SELECT doc_id, html,
                 regexp_replace(regexp_replace(html,
                   '<nav>.*?</nav>', ' ', 'g'),
                   '<footer>.*?</footer>', ' ', 'g') AS h1
          FROM aug),
        txt AS (
          SELECT doc_id, html,
                 trim(regexp_replace(regexp_replace(h1,
                   '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS clean
          FROM sub)
        SELECT doc_id, CAST(length(html) AS BIGINT) AS n_raw,
               CAST(length(clean) AS BIGINT) AS n_clean,
               round(CAST(length(clean) AS DOUBLE) /
                     CAST(length(html) AS DOUBLE), 6) AS retained,
               md5(clean) AS clean_digest
        FROM txt ORDER BY doc_id"""),
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title></head><body><nav>home | products | about"),
          lit("</nav><p>"), col("text"), lit("</p><footer>© site "),
          (col("doc_id") % 97).cast("string"),
          lit("</footer></body></html>"))
        docs(s, dir)
          .select(col("doc_id"), html.as("html"))
          .withColumn("h1",
            regexp_replace(regexp_replace(col("html"),
              "<nav>.*?</nav>", " "), "<footer>.*?</footer>", " "))
          .withColumn("clean",
            trim(regexp_replace(regexp_replace(col("h1"),
              "<[^>]*>", " "), " +", " ")))
          .selectExpr("doc_id", "CAST(length(html) AS BIGINT) AS n_raw",
            "CAST(length(clean) AS BIGINT) AS n_clean",
            "round(CAST(length(clean) AS DOUBLE) / " +
              "CAST(length(html) AS DOUBLE), 6) AS retained",
            "md5(clean) AS clean_digest")
          .orderBy("doc_id")
      }),

    // ---- Unigram-LM document scoring (KenLM-style quality signal with a
    // unigram stand-in): corpus token frequencies → per-token log-prob →
    // per-doc sum. Integer-floored micros keep the sum order-independent
    // (float += is not associative; BIGINT + is). Scale: vocabulary is
    // bounded (≪ corpus) but can still reach millions of rows at 100 TB,
    // so the vocab→token join is left unhinted for AQE to size at
    // runtime (broadcast when small, shuffle when not); one shuffle to
    // build the vocab, one to re-aggregate per doc. ----
    Q(
      "curate_unigram_logprob",
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS tok
          FROM documents),
        vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
        sc AS (
          SELECT tok, CAST(floor(ln(cnt / sum(cnt) OVER ()) * 1000000)
                 AS BIGINT) AS lp
          FROM vocab)
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(s.lp) AS BIGINT) AS logprob_micro
        FROM tok t JOIN sc s USING (tok)
        GROUP BY t.doc_id ORDER BY t.doc_id"""),
      (s, dir) => {
        val tok = docs(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
        // corpus token total as a 1-row broadcast scalar, NOT an
        // empty-partition window over the vocab: the vocabulary is
        // bounded but still corpus-sized (millions of rows at 100 TB),
        // and sum() OVER () would funnel it through one partition
        val total = vocab.agg(sum("cnt").as("total"))
        val scored = vocab
          .crossJoin(broadcast(total))
          .select(col("tok"),
            floor(log(col("cnt").cast("double") / col("total")) * 1e6)
              .cast("long").as("lp"))
        // no forced broadcast hint on the vocab side: at test scale AQE's
        // runtime stats see a tiny aggregate and convert this to a
        // broadcast join anyway, while a genuinely large vocabulary
        // (millions of rows at 100 TB) stays a shuffle join instead of
        // blowing the driver/broadcast limit — size-gated by the engine,
        // not hard-coded here
        tok.join(scored, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum("lp").as("logprob_micro"))
          .orderBy("doc_id")
      }),

    // ---- DSIR-style importance resampling (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): select
    // source documents that look like a TARGET distribution (here the
    // 'en' shard) by importance weights over HASHED n-gram features —
    // unigrams + bigrams hashed into B=1024 buckets, per-bucket
    // add-1-smoothed log-likelihood ratio ln(p_target/p_source), per-doc
    // weight = Σ feature ratios, then Gumbel-top-k resampling (the
    // without-replacement sampler the paper uses). Everything is
    // engine-neutral by construction: md5-hashed buckets, ratios floored
    // to integer micros (BIGINT sums are order-independent; float += is
    // not), Gumbel noise from the Knuth-hash uniform the weighted-A-Res
    // sampler already uses. Scale: the bucket LMs are B-row aggregates
    // (map-side combined, broadcast back — the LM is a CONSTANT-size
    // model no matter the corpus), the per-doc weight is one shuffle on
    // doc_id, and the top-100 is TakeOrderedAndProject — at 100 TB the
    // corpus is read exactly twice (LM fit + scoring) and nothing
    // non-constant is broadcast. ----
    Q(
      "curate_dsir_resample", {
        val md5b = Md5Bucket12
        Some(s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ts
          FROM documents),
        feats AS (
          SELECT doc_id, lang,
                 unnest(list_concat(ts,
                   list_transform(range(1, len(ts)),
                     i -> ts[i] || ' ' || ts[i+1]))) AS f
          FROM toks),
        fb AS (SELECT doc_id, lang, ($md5b) % 1024 AS b FROM feats),
        lmc AS (SELECT b, count(*) AS cs,
                       count(*) FILTER (WHERE lang = 'en') AS ct
                FROM fb GROUP BY b),
        tot AS (SELECT sum(cs) AS tots, sum(ct) AS tott FROM lmc),
        lm AS (
          SELECT b,
                 CAST(floor(ln(((ct + 1.0) / (tott + 1024.0))
                     / ((cs + 1.0) / (tots + 1024.0))) * 1000000)
                   AS BIGINT) AS lr
          FROM lmc CROSS JOIN tot),
        w AS (
          SELECT fb.doc_id, fb.lang, CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(lm.lr) AS BIGINT) AS weight_micro
          FROM fb JOIN lm ON fb.b = lm.b GROUP BY fb.doc_id, fb.lang)
        SELECT doc_id, lang, n_feats, weight_micro,
               weight_micro + CAST(floor(-ln(-ln(
                 ((doc_id * 2654435761) % 4294967296 + 1) / 4294967297.0))
                 * 1000000) AS BIGINT) AS key_micro
        FROM w ORDER BY key_micro DESC, doc_id LIMIT 100""")
      },
      (s, dir) => {
        // ONE feature pass (round-16 optimization): both the LM fit and
        // the scorer consume the per-(doc,lang,bucket) count frame, so
        // ReuseExchange computes the tokenize/hash pipeline once — the
        // previous shape read the corpus twice ("the DSIR minimum
        // without caching") because the lambda-bearing feature subtree
        // could not canonicalize for reuse.
        val fbh = dsirBucketCounts(s, dir)
        val lmc = fbh.groupBy("b").agg(sum("cnt").as("cs"),
          sum(when(col("lang") === "en", col("cnt")).otherwise(lit(0L)))
            .as("ct"))
        val tot = lmc.agg(sum("cs").as("tots"), sum("ct").as("tott"))
        // the bucket LM is ≤ B rows by construction — broadcast is safe
        // at ANY corpus size (this is the point of hashed features)
        val lm = lmc.crossJoin(broadcast(tot))
          .select(col("b"),
            floor(log(((col("ct") + lit(1.0)) /
                (col("tott") + lit(1024.0))) /
              ((col("cs") + lit(1.0)) / (col("tots") + lit(1024.0))))
              * 1e6).cast("long").as("lr"))
        val u = ((col("doc_id") * 2654435761L) % 4294967296L + 1) /
          lit(4294967297.0)
        fbh.join(broadcast(lm), "b")
          .groupBy("doc_id", "lang")
          .agg(sum("cnt").as("n_feats"),
            sum(col("lr") * col("cnt")).as("weight_micro"))
          .select(col("doc_id"), col("lang"), col("n_feats"),
            col("weight_micro"),
            (col("weight_micro") +
              floor(-log(-log(u)) * 1e6).cast("long")).as("key_micro"))
          .orderBy(col("key_micro").desc, col("doc_id"))
          .limit(100)
      }),

    // ---- incremental DSIR (the streaming/continuous form of the
    // resampler above — round-11 verdict item 8): an LLM-data pipeline
    // runs CONTINUOUSLY, so the hashed-ngram corpus LM must be
    // maintainable as ingest batches arrive, not refit from scratch.
    // The counts are additive, so the per-batch partial state
    // (batch, bucket, cs, ct) — ≤ 3·B rows, the thing a streaming job
    // checkpoints — merges into each cumulative prefix LM by
    // RE-AGGREGATION of states (the agg_incremental_merge contract;
    // raw text is never rescanned for the LM side). The output is the
    // evolution audit: after each ingest prefix (batch 1; 1-2; 1-3),
    // the top-10 docs-seen-so-far by importance weight under the LM
    // fit on exactly the data seen so far — how the resampler's
    // ranking converges as data arrives. Scale: the scoring stream is
    // replicated once per CHECKPOINT (3, a constant), never per batch
    // count growing with data; LM frames stay ≤ 3·B rows and
    // broadcast; weight sums are integer micros (order-independent,
    // engine-portable). StreamsSpec pins Trigger.AvailableNow parity:
    // a file-source foreachBatch run maintaining the same additive
    // state reproduces the prefix-3 ranking exactly. ----
    Q(
      "curate_dsir_incremental", {
        val md5b = Md5Bucket12
        Some(s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ts
          FROM documents),
        feats AS (
          SELECT doc_id, lang,
                 unnest(list_concat(ts,
                   list_transform(range(1, len(ts)),
                     i -> ts[i] || ' ' || ts[i+1]))) AS f
          FROM toks),
        fb AS (SELECT doc_id, lang, ($md5b) % 1024 AS b,
                      doc_id % 3 AS batch
               FROM feats),
        bs AS (SELECT batch, b, count(*) AS cs,
                      count(*) FILTER (WHERE lang = 'en') AS ct
               FROM fb GROUP BY batch, b),
        pfx AS (SELECT * FROM (VALUES (1), (2), (3)) p(prefix)),
        lmp AS (SELECT prefix, b, sum(cs) AS cs, sum(ct) AS ct
                FROM bs JOIN pfx ON batch < prefix GROUP BY prefix, b),
        tot AS (SELECT prefix, sum(cs) AS tots, sum(ct) AS tott
                FROM lmp GROUP BY prefix),
        lm AS (
          SELECT l.prefix, b,
                 CAST(floor(ln(((ct + 1.0) / (tott + 1024.0))
                     / ((cs + 1.0) / (tots + 1024.0))) * 1000000)
                   AS BIGINT) AS lr
          FROM lmp l JOIN tot USING (prefix)),
        w AS (
          SELECT lm.prefix, fb.doc_id,
                 CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(lr) AS BIGINT) AS weight_micro
          FROM fb JOIN lm ON fb.b = lm.b AND fb.batch < lm.prefix
          GROUP BY lm.prefix, fb.doc_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY prefix
                 ORDER BY weight_micro DESC, doc_id) AS rn FROM w)
        SELECT CAST(prefix AS BIGINT) AS prefix, doc_id, n_feats,
               weight_micro
        FROM rk WHERE rn <= 10
        ORDER BY prefix, weight_micro DESC, doc_id""")
      },
      (s, dir) => {
        // same one-feature-pass shape as curate_dsir_resample: the
        // per-batch state and the scorer both derive from the shared
        // per-(doc,lang,bucket) count exchange
        val fbh = dsirBucketCounts(s, dir)
          .withColumn("batch", pmod(col("doc_id"), lit(3L)))
        val bs = dsirBatchState(s, dir)
        val pfx = s.range(1L, 4L).select(col("id").as("prefix"))
        // cumulative prefix LMs by merging the ≤3·B-row partial
        // states — a bounded state-frame join, no corpus rescans
        val lmp = bs.join(broadcast(pfx), col("batch") < col("prefix"))
          .groupBy("prefix", "b")
          .agg(sum("cs").as("cs"), sum("ct").as("ct"))
        val tot = lmp.groupBy("prefix")
          .agg(sum("cs").as("tots"), sum("ct").as("tott"))
        val lm = lmp.join(broadcast(tot), "prefix")
          .select(col("prefix"), col("b"),
            floor(log(((col("ct") + lit(1.0)) /
                (col("tott") + lit(1024.0))) /
              ((col("cs") + lit(1.0)) / (col("tots") + lit(1024.0))))
              * 1e6).cast("long").as("lr"))
        // score docs-seen-so-far under each prefix LM: the shared count
        // frame replicated per checkpoint (constant 3) via the
        // broadcast ≤3·B-row LM, then doc-keyed partial aggregation
        val w = fbh.join(broadcast(lm),
            fbh("b") === lm("b") && col("batch") < col("prefix"))
          .groupBy("prefix", "doc_id")
          .agg(sum("cnt").as("n_feats"),
            sum(col("lr") * col("cnt")).as("weight_micro"))
        val rw = Window.partitionBy("prefix")
          .orderBy(col("weight_micro").desc, col("doc_id"))
        w.withColumn("rn", row_number().over(rw))
          .filter(col("rn") <= 10)
          .select(col("prefix").cast("long").as("prefix"), col("doc_id"),
            col("n_feats"), col("weight_micro"))
          .orderBy(col("prefix"), col("weight_micro").desc, col("doc_id"))
      }),

    // ---- CCNet-style perplexity bucketing (Wenzek et al. 2020,
    // "CCNet: Extracting High Quality Monolingual Datasets from Web
    // Crawl Data"): score every document by its average conditional
    // bigram negative log-likelihood under a corpus bigram LM
    // (add-1-smoothed P(w2|w1) = (c12+1)/(c1+V)), then split the corpus
    // into head/middle/tail perplexity terciles — the bucket CCNet
    // keeps/reweights/drops. Engine-neutral by the house discipline:
    // per-bigram log-probs floored to integer micros (order-independent
    // BIGINT sums), the per-doc average via IEEE double division + floor
    // (identical on both engines), tercile edges via exact integer
    // comparisons on the global rank. Scale: the bigram LM is
    // CORPUS-SIZED, so unlike DSIR's hashed LM it must NOT broadcast —
    // scoring is a shuffle equi-join on (w1,w2), size-gated by AQE; c1
    // and V are derived FROM the c12 aggregate (no extra corpus pass —
    // the corpus is read exactly twice: LM fit + scoring); the tercile
    // rank goes through the range-partitioned globalRowNumber (TeraSort
    // shape, no single-partition window); the only broadcasts are 1-row
    // frames (V, n_docs). ----
    Q(
      "curate_ccnet_ppl_buckets",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ts
          FROM documents),
        big AS (
          SELECT doc_id, w1, ts[i + 1] AS w2
          FROM (SELECT doc_id, ts, unnest(ts) AS w1,
                       generate_subscripts(ts, 1) AS i
                FROM toks)
          WHERE i < len(ts)),
        c12 AS (SELECT w1, w2, count(*) AS n12 FROM big GROUP BY w1, w2),
        c1 AS (SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY w1),
        vsz AS (SELECT count(*) AS v FROM c1),
        lm AS (
          SELECT w1, w2,
                 CAST(floor(ln((n12 + 1.0) / (n1 + v)) * 1000000)
                   AS BIGINT) AS lp
          FROM c12 JOIN c1 USING (w1) CROSS JOIN vsz),
        perdoc AS (
          SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(floor(CAST(-sum(lp) AS DOUBLE) / count(*))
                   AS BIGINT) AS nll_micro
          FROM big b JOIN lm USING (w1, w2) GROUP BY b.doc_id),
        nd AS (SELECT count(*) AS n FROM perdoc),
        ranked AS (
          SELECT doc_id, n_bigrams, nll_micro,
                 row_number() OVER (ORDER BY nll_micro, doc_id) AS rn
          FROM perdoc)
        SELECT doc_id, n_bigrams, nll_micro,
               CASE WHEN (rn - 1) * 3 < n THEN 'head'
                    WHEN (rn - 1) * 3 < 2 * n THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ranked CROSS JOIN nd ORDER BY doc_id"""),
      (s, dir) => {
        val n = size(col("ts"))
        val big = docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .select(col("doc_id"), explode(arrays_zip(
            slice(col("ts"), lit(1), greatest(n - 1, lit(0))),
            slice(col("ts"), lit(2), greatest(n - 1, lit(0))))).as("p"))
          .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2"))
        // NOTE (round-16): a per-(doc, bigram) count frame shared via
        // ReuseExchange (the DSIR one-pass shape) was tried here and
        // measured 1.5× SLOWER (2.90s → 4.40s min-of-2 paired): the
        // bigram pipeline is cheap to recompute while the count frame
        // barely dedups on this vocabulary and its exchange shuffles
        // two string columns per row — the two-pass shape below is the
        // right trade when compute is light and the shuffle is wide.
        val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
        // the conditional denominator and the smoothing vocab both come
        // from the c12 frame, not another corpus pass
        val c1 = c12.groupBy("w1").agg(sum("n12").as("n1"))
        val vsz = c1.agg(count(lit(1)).as("v"))
        val lm = c12.join(c1, "w1").crossJoin(broadcast(vsz))
          .select(col("w1"), col("w2"),
            floor(log((col("n12") + lit(1.0)) / (col("n1") + col("v")))
              * 1e6).cast("long").as("lp"))
        val perdoc = big.join(lm, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("lps"))
          .select(col("doc_id"), col("n_bigrams"),
            floor((-col("lps")).cast("double") / col("n_bigrams"))
              .cast("long").as("nll_micro"))
        val nd = perdoc.agg(count(lit(1)).as("n"))
        globalRowNumber(perdoc,
          Seq(col("nll_micro"), col("doc_id")), "rn")
          .crossJoin(broadcast(nd))
          .select(col("doc_id"), col("n_bigrams"), col("nll_micro"),
            when((col("rn") - 1) * 3 < col("n"), "head")
              .when((col("rn") - 1) * 3 < col("n") * 2, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      }),

    // ---- Domain-mixture rebalancing: draw a 200-doc training mix at
    // target per-language proportions (en .30 / de .20 / fr .20 / es .15 /
    // zh .15 — the corpus itself is ~42% en), choosing WITHIN each
    // language by deterministic md5 order. Scale: per-lang window rank —
    // each language shard ranks independently; for unbounded shards you'd
    // flip to rate-based hash sampling (sample_hash_deterministic) and
    // keep this rank form for bounded "take exactly n_l" draws. ----
    Q(
      "curate_domain_mixture",
      Some("""
        WITH quota AS (
          SELECT * FROM (VALUES ('en', 60), ('de', 40), ('fr', 40),
                                ('es', 30), ('zh', 30)) q(lang, n_take)),
        rk AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY
                   md5(doc_id::VARCHAR || ':mix'), doc_id) AS mix_rank
          FROM documents)
        SELECT r.doc_id, r.lang, CAST(r.mix_rank AS BIGINT) AS mix_rank
        FROM rk r JOIN quota q ON r.lang = q.lang
        WHERE r.mix_rank <= q.n_take
        ORDER BY r.doc_id"""),
      (s, dir) => {
        val quota = s.createDataFrame(Seq(
          ("en", 60), ("de", 40), ("fr", 40), ("es", 30), ("zh", 30)))
          .toDF("lang", "n_take")
        val rk = docs(s, dir).select(col("doc_id"), col("lang"),
          row_number().over(Window.partitionBy("lang").orderBy(
            md5(concat(col("doc_id").cast("string"), lit(":mix"))),
            col("doc_id"))).as("mix_rank"))
        rk.join(broadcast(quota), "lang")
          .filter(col("mix_rank") <= col("n_take"))
          .select(col("doc_id"), col("lang"),
            col("mix_rank").cast("long").as("mix_rank"))
          .orderBy("doc_id")
      }),

    // ---- Weighted sampling (A-Res, Efraimidis–Spirakis): top-5 docs per
    // language by key u^(1/w) with w = n_chars — longer docs
    // proportionally likelier — made fully deterministic by deriving u
    // from a Knuth multiplicative hash of doc_id (pure integer
    // arithmetic, engine-portable). The key is compared as
    // floor(ln(u)/w · 1e9) BIGINT with a doc_id tiebreak, so both
    // engines order identically (float keys near-tie-proof via the
    // integer floor + tiebreak). Scale: per-group window top-k =
    // WindowGroupLimit pushdown; the reservoir form of the same
    // algorithm is the streaming analogue. ----
    Q(
      "sample_weighted_ares",
      Some("""
        WITH keyed AS (
          SELECT doc_id, lang, n_chars,
                 CAST(floor(ln(((doc_id * 2654435761) % 4294967296 + 1)
                     / 4294967297.0) / n_chars * 1000000000) AS BIGINT)
                   AS wkey
          FROM documents),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY lang
                   ORDER BY wkey DESC, doc_id) AS rk
          FROM keyed)
        SELECT doc_id, lang, n_chars, wkey
        FROM rk WHERE rk <= 5 ORDER BY lang, wkey DESC, doc_id"""),
      (s, dir) => {
        val u = ((col("doc_id") * 2654435761L) % 4294967296L + 1) /
          lit(4294967297.0)
        val wkey = floor(log(u) / col("n_chars") * 1e9).cast("long")
        val keyed = docs(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            wkey.as("wkey"))
        keyed
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy(col("wkey").desc,
              col("doc_id"))))
          .filter(col("rk") <= 5)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("wkey"))
          .orderBy(col("lang"), col("wkey").desc, col("doc_id"))
      }),

    // ---- The composed curation pipeline, round-4 edition: quality gate
    // → exact dedup (keep min doc_id per text) → eval-set decontamination
    // (drop the eval split AND every doc sharing a trigram with it) →
    // 512-token sequence packing of the survivors. One declarative plan:
    // the stages a production corpus pass chains, each individually
    // oracled above, composed here so the interactions (dedup before
    // decontam, packing over the post-filter survivor order) are pinned
    // too. ----
    Q(
      "pipeline_curation_full",
      Some("""
        WITH toks AS (
          SELECT doc_id, text, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ts
          FROM documents),
        quality AS (SELECT * FROM toks WHERE len(ts) >= 5),
        kept AS (
          SELECT min(doc_id) AS doc_id FROM quality GROUP BY text),
        dedup AS (
          SELECT q.* FROM quality q JOIN kept k ON q.doc_id = k.doc_id),
        grams AS (
          SELECT DISTINCT doc_id, array_to_string(ts[i+1:i+3], ' ') AS g
          FROM toks, unnest(range(len(ts) - 2)) AS t(i) WHERE len(ts) >= 3),
        ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        dirty AS (
          SELECT DISTINCT gr.doc_id FROM grams gr JOIN ev USING (g)
          WHERE gr.doc_id % 97 <> 0),
        clean AS (
          SELECT d.doc_id, d.lang, CAST(len(d.ts) AS BIGINT) AS n_tokens
          FROM dedup d
          WHERE d.doc_id % 97 <> 0
            AND d.doc_id NOT IN (SELECT doc_id FROM dirty)),
        packed AS (
          SELECT doc_id, lang, n_tokens,
                 COALESCE(sum(n_tokens) OVER (PARTITION BY lang
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS prefix
          FROM clean)
        SELECT doc_id, lang, n_tokens,
               CAST(prefix // 512 AS BIGINT) AS bin_id,
               CAST(prefix % 512 AS BIGINT) AS bin_offset
        FROM packed ORDER BY doc_id"""),
      (s, dir) => {
        val toks = docs(s, dir).select(col("doc_id"), col("text"),
          col("lang"), tokens(col("text")).as("ts"))
        val quality = toks.filter(size(col("ts")) >= 5)
        val kept = quality.groupBy("text").agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val dedup = quality.join(kept, "doc_id")
        val grams = docGrams(s, dir)
        val ev = grams.filter(col("doc_id") % 97 === 0).select("g").distinct()
        val dirty = grams.filter(col("doc_id") % 97 =!= 0)
          .join(broadcast(ev), "g").select("doc_id").distinct()
        val clean = dedup
          .filter(col("doc_id") % 97 =!= 0)
          .join(dirty, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"),
            size(col("ts")).cast("long").as("n_tokens"))
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        clean
          .withColumn("prefix", coalesce(sum("n_tokens").over(w), lit(0L)))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            floor(col("prefix") / 512).as("bin_id"),
            (col("prefix") % 512).as("bin_offset"))
          .orderBy("doc_id")
      }),

    // ---- Reproducible hash sampling: the oracled companion to the
    // seed-dependent sample_bernoulli_seeded — both engines agree on
    // md5, so the ~20% subset (first digest byte < 0x33) is exact and
    // stable across runs, engines, and partitionings. Scale: embarrassingly
    // parallel filter, no shuffle; the property that makes it a pipeline
    // primitive is that membership is a pure function of the key. ----
    Q(
      "sample_hash_deterministic",
      Some("""
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(doc_id::VARCHAR || ':seed42'), 1, 2) < '33'
        ORDER BY doc_id"""),
      (s, dir) =>
        docs(s, dir)
          .filter(substring(md5(concat(col("doc_id").cast("string"),
            lit(":seed42"))), 1, 2) < "33")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")),

    // ---- Repetition filter (Gopher-style quality rules, Rae et al.
    // 2021 §A1.1): flag documents whose content is internally repetitive
    // — here the duplicate-word fraction and the top-bigram fraction
    // (the published rules use duplicate lines/paragraphs and top-2..4-
    // gram fractions; same signals, thresholds recalibrated for the
    // ~31-word synthetic vocab where baseline repetition is far above
    // natural text). Scale: everything is per-document — explode, two
    // doc-keyed aggregations, no corpus-wide state, embarrassingly
    // parallel at any scale. ----
    Q(
      "curate_repetition_filter",
      Some("""
        WITH base AS (
          SELECT doc_id, ts, len(ts) AS n FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents) WHERE len(ts) >= 2),
        wstats AS (
          SELECT doc_id, count(*) AS nw, count(DISTINCT w) AS nd
          FROM (SELECT doc_id, unnest(ts) AS w FROM base) GROUP BY doc_id),
        bgtop AS (
          SELECT doc_id, max(c) AS topc, sum(c) AS nbg FROM (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
              FROM base, unnest(range(1, len(ts))) AS t(i))
            GROUP BY 1, 2) GROUP BY doc_id)
        SELECT b.doc_id, CAST(w.nw AS BIGINT) AS n_tokens,
               round(1.0 - CAST(w.nd AS DOUBLE) / w.nw, 6) AS dup_word_frac,
               round(CAST(t.topc AS DOUBLE) / t.nbg, 6) AS top_bigram_frac,
               (1.0 - CAST(w.nd AS DOUBLE) / w.nw) > 0.5
                 OR CAST(t.topc AS DOUBLE) / t.nbg > 0.1 AS flagged
        FROM base b
        JOIN wstats w USING (doc_id) JOIN bgtop t USING (doc_id)
        ORDER BY doc_id"""),
      (s, dir) => {
        val base = docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .withColumn("n", size(col("ts")))
          .filter(col("n") >= 2)
        val wstats = base
          .select(col("doc_id"), explode(col("ts")).as("w"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("nw"), countDistinct("w").as("nd"))
        // zip_with, not transform-over-indices: an index lambda's
        // element_at(ts, i) re-evaluates the inlined tokenizer per
        // element (quadratic in doc length after CollapseProject);
        // zip_with evaluates both slice arguments once per ROW
        val bgtop = base
          .select(col("doc_id"),
            explode(zip_with(
              slice(col("ts"), lit(1), col("n") - 1),
              slice(col("ts"), lit(2), col("n") - 1),
              (a, b) => concat(a, lit(" "), b))).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(max("c").as("topc"), sum("c").as("nbg"))
        val dupFrac = lit(1.0) - col("nd").cast("double") / col("nw")
        val topFrac = col("topc").cast("double") / col("nbg")
        base.select("doc_id")
          .join(wstats, "doc_id").join(bgtop, "doc_id")
          .select(col("doc_id"), col("nw").as("n_tokens"),
            round(dupFrac, 6).as("dup_word_frac"),
            round(topFrac, 6).as("top_bigram_frac"),
            (dupFrac > 0.5 || topFrac > 0.1).as("flagged"))
          .orderBy("doc_id")
      }),

    // ---- Sliding-window chunking with overlap (window 32 tokens,
    // stride 24 → 8-token overlap): the RAG/context-window prep step —
    // unlike curate_pack_sequences (which concatenates docs up to a
    // budget) this SPLITS long documents into overlapping pieces so no
    // retrieval boundary loses context. Scale: chunk starts are computed
    // per row from the token count (explode of an arithmetic sequence)
    // — no shuffle at all until a downstream op asks for one. ----
    Q(
      "curate_chunk_overlap",
      Some("""
        WITH base AS (
          SELECT doc_id, ts, len(ts) AS n FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents) WHERE len(ts) > 0)
        SELECT doc_id, CAST(i // 24 AS BIGINT) AS chunk_id,
               CAST(least(32, n - i) AS BIGINT) AS n_chunk_tokens,
               array_to_string(ts[i+1:i+32], ' ') AS chunk_text
        FROM base, unnest(range(0, n, 24)) AS t(i)
        ORDER BY doc_id, chunk_id"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .withColumn("n", size(col("ts")))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("ts"), col("n"),
            explode(sequence(lit(0), col("n") - 1, lit(24))).as("i"))
          .select(col("doc_id"),
            (col("i") / 24).cast("long").as("chunk_id"),
            least(lit(32), col("n") - col("i")).cast("long")
              .as("n_chunk_tokens"),
            array_join(slice(col("ts"), col("i") + 1, lit(32)), " ")
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_id")),

    // ---- stable global sample-ID assignment: every training example
    // gets a dense 1..N id, deterministic across runs (seeded md5 order,
    // doc_id tiebreak). The naive row_number() OVER (ORDER BY ...) is a
    // single-partition sort — the one shape guaranteed to die at 100 TB;
    // this runs through globalRowNumber's range-partition + offset
    // two-pass, which numbers identically (total order) with every stage
    // parallel. The same helper now powers curate_epoch_shuffle. ----
    Q(
      "curate_assign_sample_ids",
      Some("""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY
                 md5(doc_id::VARCHAR || ':ids'), doc_id) AS BIGINT)
                 AS sample_id
        FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        globalRowNumber(
          docs(s, dir).select(col("doc_id")),
          Seq(md5(concat(col("doc_id").cast("string"), lit(":ids"))),
            col("doc_id")),
          "sample_id")
          .select("doc_id", "sample_id")
          .orderBy("doc_id")),

    // ---- deterministic negative sampling for contrastive training:
    // every anchor document draws k=2 pseudo-random negatives via a
    // bucketed hash ring — seeded md5 assigns each doc a bucket and a
    // ring position (both uncorrelated with content, so the draw is
    // uniform), and an anchor's negatives are the next 2 docs around
    // its bucket's ring (modular wrap). Reproducible across runs and
    // engines, no RNG state. Scale: NO global window — each bucket's
    // ring orders independently (the 64-bucket constant is the
    // parallelism knob; production sets it to O(cluster cores), which
    // changes which negatives are drawn but not their uniformity), and
    // the neighbor lookup is one equi-join on (bucket, position).
    // Degenerate buckets (size ≤ 2) drop self-pairs via the final
    // guard instead of failing. ----
    Q(
      "curate_negative_sampling",
      Some("""
        WITH ring AS (
          SELECT doc_id, md5(doc_id::VARCHAR || ':neg') AS h
          FROM documents),
        rb AS (
          SELECT doc_id, h,
                 ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
                  strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 64
                   AS b
          FROM ring),
        rp AS (
          SELECT doc_id, b,
                 row_number() OVER (PARTITION BY b ORDER BY h, doc_id)
                   AS rn,
                 count(*) OVER (PARTITION BY b) AS sz
          FROM rb),
        pairs AS (
          SELECT a.doc_id, o.off,
                 (a.rn - 1 + o.off) % a.sz + 1 AS p, a.b
          FROM rp a CROSS JOIN (VALUES (1), (2)) o(off))
        SELECT pr.doc_id, CAST(pr.off AS BIGINT) AS neg_rank,
               n.doc_id AS neg_id
        FROM pairs pr JOIN rp n ON n.b = pr.b AND n.rn = pr.p
        WHERE n.doc_id <> pr.doc_id
        ORDER BY pr.doc_id, neg_rank"""),
      (s, dir) => {
        val rp = docs(s, dir)
          .select(col("doc_id"),
            md5(concat(col("doc_id").cast("string"), lit(":neg"))).as("h"))
          .withColumn("b",
            expr("CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT) % 64"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("b").orderBy("h", "doc_id")))
          .withColumn("sz",
            count(lit(1)).over(Window.partitionBy("b")))
          .select("doc_id", "b", "rn", "sz")
          .persist()
        val pairs = rp
          .withColumn("off", explode(array(lit(1), lit(2))))
          .withColumn("p", (col("rn") - 1 + col("off")) % col("sz") + 1)
        pairs.as("a")
          .join(rp.as("n"),
            col("n.b") === col("a.b") && col("n.rn") === col("a.p"))
          .filter(col("n.doc_id") =!= col("a.doc_id"))
          .select(col("a.doc_id").as("doc_id"),
            col("a.off").cast("long").as("neg_rank"),
            col("n.doc_id").as("neg_id"))
          .orderBy("doc_id", "neg_rank")
      }),

    // ---- Temperature-based multilingual mixture sampling (the
    // α-sampling of Conneau & Lample 2019 / XLM-R: resample languages
    // with q_l ∝ p_l^α, α=0.3, flattening the head so low-resource
    // languages are up-weighted relative to their corpus share). Target
    // size T = ⌊2N/5⌋ docs; each doc in language l is kept with rate
    // r_l = min(1, T·q_l/n_l), decided by a salted Knuth-hash uniform so
    // the draw is deterministic and engine-portable. The keep test is
    // PURE INTEGER arithmetic (hash·10⁶ floor-divided by 2³² vs an
    // integer micro-rate) — the only floats are the 5-row rate table's
    // p^α, computed identically as exp(α·ln p) on both engines. Scale:
    // the language census is one map-side-combined agg to ≤ #langs rows,
    // the rate table broadcasts (languages are bounded, not
    // corpus-sized), and the resample itself is a stateless filter scan —
    // corpus read exactly twice (census + filter), nothing shuffles the
    // data rows. ----
    Q(
      "curate_temperature_mixture",
      Some("""
        WITH lc AS (SELECT lang, count(*) AS cnt
                    FROM documents GROUP BY lang),
        tot AS (SELECT sum(cnt) AS n FROM lc),
        sc AS (SELECT lang, cnt,
                      exp(0.3 * ln(cnt / CAST(n AS DOUBLE))) AS s,
                      n
               FROM lc CROSS JOIN tot),
        z AS (SELECT sum(s) AS zs FROM sc),
        rates AS (
          SELECT lang,
                 least(1000000, CAST(floor(
                   ((n * 2) // 5) * s / (zs * cnt) * 1000000)
                   AS BIGINT)) AS rate_micro
          FROM sc CROSS JOIN z)
        SELECT d.doc_id, d.lang, r.rate_micro
        FROM documents d JOIN rates r USING (lang)
        WHERE ((d.doc_id * 2654435761 + 104729) % 4294967296)
                * 1000000 // 4294967296 < r.rate_micro
        ORDER BY d.doc_id"""),
      (s, dir) => {
        val lc = docs(s, dir).groupBy("lang")
          .agg(count(lit(1)).as("cnt"))
        val tot = lc.agg(sum("cnt").as("n"))
        // p_l^α spelled exp(α·ln p) on BOTH engines so the two libms see
        // the same formulation; the result lands in an integer micro-rate
        // before any comparison
        val sc = lc.crossJoin(broadcast(tot))
          .select(col("lang"), col("cnt"), col("n"),
            exp(lit(0.3) * log(col("cnt") / col("n").cast("double")))
              .as("s"))
        val z = sc.agg(sum("s").as("zs"))
        val rates = sc.crossJoin(broadcast(z))
          .select(col("lang"),
            least(lit(1000000L),
              floor(floor(col("n") * 2 / 5) * col("s") /
                (col("zs") * col("cnt")) * 1e6).cast("long"))
              .as("rate_micro"))
        // the rate table is ≤ #languages rows — broadcast is safe at any
        // corpus size; the keep test below is integer-only (no float
        // boundary can flip between engines)
        docs(s, dir).join(broadcast(rates), "lang")
          .filter(
            expr("((doc_id * 2654435761L + 104729L) % 4294967296L)" +
              " * 1000000L div 4294967296L") < col("rate_micro"))
          .select(col("doc_id"), col("lang"), col("rate_micro"))
          .orderBy("doc_id")
      }),

    // ---- Keyword-taxonomy topic tagging: classify every document into
    // a small controlled taxonomy by dictionary keyword hits (the
    // FlashText/dictionary-tagger shape every corpus-annotation pipeline
    // runs before domain-mixture decisions). Per doc: count keyword
    // occurrences per topic, assign the topic with the most hits,
    // ties broken toward the lower topic_id — the argmax is a max_by
    // HASH AGGREGATE on an integer key (cnt·100 − topic_id, unique per
    // doc because topic_id is), not a rank-1 window (WindowGroupLimit
    // still sorts). The SCALAR key matters as much as max_by itself:
    // max_by over a struct(cos, -cell) ordering silently planned as
    // SortAggregate in dedup_semantic_cells (struct buffers are not
    // hash-aggregable) — a packed integer key keeps this one a real
    // hash aggregate. Docs with zero keyword hits drop out (inner join) — the
    // untagged remainder is the complement, cheaper left as absence.
    // Scale: the taxonomy is a constant-size literal dim (broadcast),
    // the token explode shuffles doc-keyed aggregates only — no
    // corpus-sized state anywhere. ----
    Q(
      "curate_taxonomy_tags",
      Some("""
        WITH dict AS (
          SELECT * FROM (VALUES
            (0, 'storage',   'table'),  (0, 'storage',   'row'),
            (0, 'storage',   'column'), (0, 'storage',   'part'),
            (0, 'storage',   'key'),
            (1, 'execution', 'scan'),   (1, 'execution', 'filter'),
            (1, 'execution', 'join'),   (1, 'execution', 'agg'),
            (1, 'execution', 'group'),  (1, 'execution', 'sort'),
            (1, 'execution', 'merge'),  (1, 'execution', 'hash'),
            (2, 'streaming', 'stream'), (2, 'streaming', 'window'),
            (2, 'streaming', 'batch'),
            (3, 'workload',  'fast'),   (3, 'workload',  'slow'),
            (3, 'workload',  'small'),  (3, 'workload',  'big'))
            d(topic_id, topic, kw)),
        hits AS (
          SELECT t.doc_id, d.topic_id, d.topic, count(*) AS cnt
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                         x -> x <> '')) AS tok
                FROM documents) t
          JOIN dict d ON t.tok = d.kw
          GROUP BY 1, 2, 3)
        SELECT doc_id,
               arg_max(topic, cnt * 100 - topic_id) AS topic,
               CAST(arg_max(cnt, cnt * 100 - topic_id) AS BIGINT)
                 AS topic_hits,
               CAST(sum(cnt) AS BIGINT) AS total_hits
        FROM hits GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val dict = s.createDataFrame(Seq(
          (0, "storage", "table"), (0, "storage", "row"),
          (0, "storage", "column"), (0, "storage", "part"),
          (0, "storage", "key"),
          (1, "execution", "scan"), (1, "execution", "filter"),
          (1, "execution", "join"), (1, "execution", "agg"),
          (1, "execution", "group"), (1, "execution", "sort"),
          (1, "execution", "merge"), (1, "execution", "hash"),
          (2, "streaming", "stream"), (2, "streaming", "window"),
          (2, "streaming", "batch"),
          (3, "workload", "fast"), (3, "workload", "slow"),
          (3, "workload", "small"), (3, "workload", "big")))
          .toDF("topic_id", "topic", "kw")
        // argmax key: unique per doc (one row per topic_id), max picks
        // highest count then LOWEST topic_id — both max_by calls land on
        // the same row, so topic and topic_hits stay consistent.
        // max_by returns the LONG topic_id, not the topic STRING: a
        // string buffer field is not UnsafeRow-mutable, so max_by(topic,
        // key) silently planned as SortAggregate (caught by the round-12
        // PlanSmells audit — the scalar KEY alone is not enough, the
        // VALUE must be fixed-width too). The name re-attaches from the
        // 4-row topic dim AFTER the aggregate, a broadcast join on the
        // already-collapsed per-doc frame.
        val key = col("cnt") * 100 - col("topic_id")
        val topicDim = dict.select("topic_id", "topic").distinct()
        docs(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .join(broadcast(dict), col("tok") === col("kw"))
          .groupBy("doc_id", "topic_id")
          .agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id")
          .agg(max_by(col("topic_id"), key).as("topic_id"),
            max_by(col("cnt"), key).cast("long").as("topic_hits"),
            sum("cnt").cast("long").as("total_hits"))
          .join(broadcast(topicDim), "topic_id")
          .select(col("doc_id"), col("topic"), col("topic_hits"),
            col("total_hits"))
          .orderBy("doc_id")
      }),

    // ---- Gopher quality-rule battery (Rae et al. 2021 §A1.1): the
    // published per-document filters as one pass — word-count bounds,
    // mean-word-length bounds, ≥2 distinct stopwords, alphabetic-word
    // fraction. Thresholds follow the paper except mean word length
    // (published [3,10] recalibrated to [4.2,10] for the ~31-word
    // synthetic vocab whose means span 3.7–5.1 — at [3,10] the rule
    // would be decision-free here); the alpha rule passes everywhere on
    // this corpus by construction (all-lowercase vocab) and is kept for
    // rule-battery completeness. Every rule evaluates on EXACT integers
    // (cross-multiplied or micro-floored ratios — no float boundary can
    // flip between engines). Scale: one token explode feeding a single
    // doc-keyed hash aggregate; all four rules derive from the same
    // five partial aggregates — no second corpus pass, nothing
    // corpus-wide. ----
    Q(
      "curate_gopher_rules",
      Some("""
        WITH a AS (
          SELECT doc_id, count(*) AS nw,
                 sum(length(tok)) AS total_chars,
                 count(DISTINCT CASE WHEN tok IN ('the','a','of','and','is')
                                     THEN tok END) AS n_stop,
                 sum(CASE WHEN regexp_full_match(tok, '[a-z]+')
                          THEN 1 ELSE 0 END) AS n_alpha
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                         x -> x <> '')) AS tok
                FROM documents)
          GROUP BY doc_id)
        SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
               CAST(total_chars * 1000000 // nw AS BIGINT) AS mean_len_micro,
               CAST(n_stop AS BIGINT) AS n_stop_distinct,
               CAST(n_alpha * 1000000 // nw AS BIGINT) AS alpha_frac_micro,
               nw BETWEEN 50 AND 100000 AS word_count_ok,
               total_chars * 1000000 // nw BETWEEN 4200000 AND 10000000
                 AS mean_len_ok,
               n_stop >= 2 AS stopword_ok,
               n_alpha * 1000000 // nw >= 800000 AS alpha_ok,
               (nw BETWEEN 50 AND 100000)
                 AND (total_chars * 1000000 // nw
                        BETWEEN 4200000 AND 10000000)
                 AND n_stop >= 2
                 AND n_alpha * 1000000 // nw >= 800000 AS pass
        FROM a ORDER BY doc_id"""),
      (s, dir) => {
        val stop = Seq("the", "a", "of", "and", "is")
        val a = docs(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("nw"),
            sum(length(col("tok"))).as("total_chars"),
            countDistinct(when(col("tok").isInCollection(stop), col("tok")))
              .as("n_stop"),
            sum(when(col("tok").rlike("^[a-z]+$"), 1L).otherwise(0L))
              .as("n_alpha"))
        val meanMicro = expr("total_chars * 1000000 div nw")
        val alphaMicro = expr("n_alpha * 1000000 div nw")
        val r1 = col("nw").between(50, 100000)
        val r2 = meanMicro.between(4200000L, 10000000L)
        val r3 = col("n_stop") >= 2
        val r4 = alphaMicro >= 800000L
        a.select(
          col("doc_id"),
          col("nw").cast("long").as("n_words"),
          meanMicro.as("mean_len_micro"),
          col("n_stop").cast("long").as("n_stop_distinct"),
          alphaMicro.as("alpha_frac_micro"),
          r1.as("word_count_ok"), r2.as("mean_len_ok"),
          r3.as("stopword_ok"), r4.as("alpha_ok"),
          (r1 && r2 && r3 && r4).as("pass"))
          .orderBy("doc_id")
      }),

    // ---- Soft deduplication (He et al., ACL 2024 "SoftDedup":
    // down-WEIGHT common data instead of dropping it): per-doc sampling
    // weight combining (1) the bag-of-words near-duplicate cluster size
    // — the text_fingerprint groups, so a doc duplicated k× contributes
    // total mass ~1 instead of k — and (2) a commonness discount from
    // the fraction of the doc's distinct trigram shingles shared with
    // ≥1 other doc. Both signals and the blended weight are pure
    // integer arithmetic (micro-floored ratios; the blend
    // w·(2e6 − dup)/2e6 halves the weight of a fully-common doc).
    // Scale: the fingerprint census is a 16-byte-keyed equi-join; the
    // shingle side is explode → distinct → shingle-keyed df agg →
    // doc-keyed stats — per-doc statistics only (no pair join), so
    // posting lists never multiply and everything stays linear in
    // corpus size. ----
    Q(
      "curate_softdedup_weights",
      Some("""
        WITH t AS (SELECT doc_id,
                          list_filter(string_split(text, ' '), x -> x <> '')
                            AS ts
                   FROM documents),
        f AS (SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(ts)), ' '))
                       AS fp
              FROM t),
        cp AS (SELECT fp, count(*) AS copies FROM f GROUP BY 1),
        sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' ||
                        ts[i+2] AS s
               FROM t, unnest(range(1, len(ts) - 1)) AS u(i)),
        df AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
        st AS (SELECT doc_id, count(*) AS n_sh,
                      sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS dup
               FROM sh JOIN df USING (s) GROUP BY 1)
        SELECT f.doc_id, CAST(cp.copies AS BIGINT) AS copies,
               CAST(coalesce(st.n_sh, 0) AS BIGINT) AS n_shingles,
               CAST(CASE WHEN coalesce(st.n_sh, 0) = 0 THEN 0
                    ELSE st.dup * 1000000 // st.n_sh END AS BIGINT)
                 AS dup_frac_micro,
               CAST(1000000 // cp.copies AS BIGINT) AS weight_micro,
               CAST((1000000 // cp.copies)
                    * (2000000 - CASE WHEN coalesce(st.n_sh, 0) = 0 THEN 0
                                 ELSE st.dup * 1000000 // st.n_sh END)
                    // 2000000 AS BIGINT) AS effective_weight_micro
        FROM f JOIN cp USING (fp) LEFT JOIN st ON f.doc_id = st.doc_id
        ORDER BY f.doc_id"""),
      (s, dir) => {
        val t = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("ts"))
        // identical recipe to text_fingerprint: md5 over the sorted
        // distinct token set — the 16-byte near-dup cluster key
        val f = t.select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(col("ts"))), " ")
            .cast("binary")).as("fp"))
        val cp = f.groupBy("fp").agg(count(lit(1)).as("copies"))
        val sh = t.select(col("doc_id"), col("ts"))
          .selectExpr("doc_id", "ngrams_gen(ts, 3)")
          .select(col("doc_id"), col("ngram").as("s")).distinct()
        val dfc = sh.groupBy("s").agg(count(lit(1)).as("c"))
        val st = sh.join(dfc, "s")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("c") >= 2, 1L).otherwise(0L)).as("dup"))
        val dupFrac = when(coalesce(col("n_sh"), lit(0L)) === 0, 0L)
          .otherwise(expr("dup * 1000000 div n_sh"))
        f.join(cp, "fp")
          .join(st, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            col("copies").cast("long").as("copies"),
            coalesce(col("n_sh"), lit(0L)).cast("long").as("n_shingles"),
            dupFrac.cast("long").as("dup_frac"),
            expr("1000000 div copies").cast("long").as("w"))
          // the blend stays in BIGINT `div` arithmetic end-to-end —
          // a double division here could round up across an integer
          // boundary and diverge from the oracle's floor
          .select(
            col("doc_id"), col("copies"),
            col("n_shingles"),
            col("dup_frac").as("dup_frac_micro"),
            col("w").as("weight_micro"),
            expr("w * (2000000 - dup_frac) div 2000000")
              .cast("long").as("effective_weight_micro"))
          .orderBy("doc_id")
      }),

    // ---- URL canonicalization dedup (the CommonCrawl-style first pass
    // BEFORE any content dedup: the same page is fetched under dozens of
    // syntactic URL variants — scheme/host case, www. prefix, default
    // port, trailing slash, tracking params, fragments, query-param
    // order — and collapsing those is orders of magnitude cheaper than
    // MinHash on the duplicated bodies). The corpus has no URL column,
    // so — same discipline as curate_pii_redact / curate_html_strip —
    // each doc gets a deterministic messy URL built from (doc_id,
    // source), exercising every rule: mixed-case scheme+host, optional
    // WWW., default :443 port, optional trailing slash, utm_* tracking
    // params, unsorted residual params, optional fragment. Canonical
    // form = lowercase pre-query part, strip www./default port/trailing
    // slash/fragment, drop utm_* params, sort the survivors. Dedup =
    // one hash agg on the canonical string (keeper = min doc_id, the
    // crawl-order winner). Scale: pure per-row codegen'd expressions +
    // a single map-side-combining hash agg whose key cardinality is
    // the number of DISTINCT pages (≪ rows on a real crawl) — linear,
    // shuffle carries one row per distinct canonical URL. ----
    Q(
      "curate_url_canonicalize",
      Some("""
        WITH raw AS (
          SELECT doc_id,
                 (CASE doc_id % 3 WHEN 0 THEN 'HTTPS://'
                                  WHEN 1 THEN 'http://'
                                  ELSE 'https://' END) ||
                 (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
                 (CASE WHEN doc_id % 4 = 0 THEN upper(source)
                       ELSE source END) || '.Example.COM' ||
                 (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
                 '/Items/' || (doc_id % 20)::VARCHAR ||
                 (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) ||
                 '?utm_source=s' || (doc_id % 3)::VARCHAR ||
                 '&ref=r' || (doc_id % 3)::VARCHAR ||
                 '&utm_medium=em&b=' || (doc_id % 2)::VARCHAR ||
                 '&a=a' || (doc_id % 5)::VARCHAR ||
                 (CASE WHEN doc_id % 6 = 0 THEN '#Section-2' ELSE '' END)
                   AS url
          FROM documents),
        nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u
               FROM raw),
        sp AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(
                   lower(string_split(u, '?')[1]),
                   '://www\.', '://'), ':443/', '/'), '/$', '') AS pre,
                 string_split(u, '?')[2] AS q0
          FROM nf),
        cq AS (
          SELECT doc_id, pre,
                 array_to_string(list_sort(list_filter(
                   string_split(q0, '&'),
                   x -> substr(x, 1, 4) <> 'utm_')), '&') AS q
          FROM sp),
        canon AS (
          SELECT doc_id,
                 pre || (CASE WHEN length(q) > 0 THEN '?' || q
                              ELSE '' END) AS canonical_url
          FROM cq)
        SELECT canonical_url,
               CAST(count(*) AS BIGINT) AS n_dups,
               CAST(min(doc_id) AS BIGINT) AS keeper_doc
        FROM canon GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val d = col("doc_id")
        val url = concat(
          when(pmod(d, lit(3L)) === 0, "HTTPS://")
            .when(pmod(d, lit(3L)) === 1, "http://")
            .otherwise("https://"),
          when(pmod(d, lit(2L)) === 0, "WWW.").otherwise(""),
          when(pmod(d, lit(4L)) === 0, upper(col("source")))
            .otherwise(col("source")),
          lit(".Example.COM"),
          when(pmod(d, lit(5L)) === 0, ":443").otherwise(""),
          lit("/Items/"), pmod(d, lit(20L)).cast("string"),
          when(pmod(d, lit(4L)) === 1, "/").otherwise(""),
          lit("?utm_source=s"), pmod(d, lit(3L)).cast("string"),
          lit("&ref=r"), pmod(d, lit(3L)).cast("string"),
          lit("&utm_medium=em&b="), pmod(d, lit(2L)).cast("string"),
          lit("&a=a"), pmod(d, lit(5L)).cast("string"),
          when(pmod(d, lit(6L)) === 0, "#Section-2").otherwise(""))
        docs(s, dir)
          .select(d, regexp_replace(url, "#.*$", "").as("u"))
          .select(d,
            regexp_replace(regexp_replace(regexp_replace(
              lower(element_at(split(col("u"), "\\?"), 1)),
              "://www\\.", "://"), ":443/", "/"), "/$", "").as("pre"),
            element_at(split(col("u"), "\\?"), 2).as("q0"))
          .select(d, col("pre"),
            array_join(array_sort(filter(split(col("q0"), "&"),
              x => substring(x, 1, 4) =!= lit("utm_"))), "&").as("q"))
          .select(d,
            concat(col("pre"),
              when(length(col("q")) > 0, concat(lit("?"), col("q")))
                .otherwise(lit(""))).as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).cast("long").as("n_dups"),
            min("doc_id").cast("long").as("keeper_doc"))
          .orderBy("canonical_url")
      }))
}
