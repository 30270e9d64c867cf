package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, QueryModule, Tables}

/** Text analysis for training-data pipelines over `documents`: token
  * counting (whitespace + regex tokenizers), quality scoring, n-gram
  * language-ID heuristic, and content fingerprinting — all per-row
  * expression pipelines (whole-stage codegen, no UDFs, no shuffles except
  * the final deliberate aggregations).
  */
object TextAnalysis extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Non-empty whitespace tokens — the native SpaceTokens expression
    * (round-17): one native pass, no per-element interpreted lambda, and
    * the subtree canonicalizes so twin pipelines share exchanges. */
  private def tokens(c: Column): Column = call_function("space_tokens", c)

  /** DuckDB fragment: first 12 hex chars of md5 of lambda variable `g` →
    * BIGINT via positional digit arithmetic (no baseN conv in DuckDB) —
    * the engine-neutral hash primitive, Spark side
    * `conv(substring(md5(g), 1, 12), 16, 10)`. */
  private val duckMd5Hex12: String =
    (1 to 12).map { k =>
      val coef = math.pow(16, (12 - k).toDouble).toLong
      s"(strpos('0123456789abcdef', substr(md5(g), $k, 1)) - 1) * $coef"
    }.mkString(" + ")

  /** Tiny per-language stopword lists for the n-gram/stopword lang-ID
    * heuristic (a real pipeline ships real lists; the MECHANISM — score
    * per language, argmax with deterministic tiebreak — is what scales).
    */
  private val stoplists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "la", "los", "y"),
    "zh" -> Seq("的", "了", "是", "在"))

  private def stopHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => words.map(w => x === lit(w)).reduce(_ || _)))

  val all: Seq[Q] = Seq(

    Q(
      "text_token_stats",
      Some("""
        SELECT doc_id,
               CAST(len(ts) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
               round(CAST(list_aggregate(list_transform(ts, x -> length(x)),
                 'sum') AS DOUBLE) / len(ts), 4) AS avg_token_len
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS ts
              FROM documents)
        WHERE len(ts) > 0
        ORDER BY doc_id"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .filter(size(col("ts")) > 0)
          .select(
            col("doc_id"),
            size(col("ts")).cast("long").as("n_tokens"),
            size(array_distinct(col("ts"))).cast("long").as("n_distinct"),
            round(
              aggregate(col("ts"), lit(0L), (acc, x) => acc + length(x))
                .cast("double") / size(col("ts")), 4).as("avg_token_len"))
          .orderBy("doc_id")),

    Q(
      "text_quality_score",
      Some("""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               round(CAST(len(list_filter(ts, x -> x IN ('the','a','of','and')))
                 AS DOUBLE) / len(ts), 4) AS stopword_ratio,
               round(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 4)
                 AS distinct_ratio,
               round(least(CAST(length(text) AS DOUBLE) / 200, 1.0) * 0.5
                 + (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) * 0.5, 4)
                 AS quality
        FROM (SELECT doc_id, text,
                     list_filter(string_split(text, ' '), x -> x <> '') AS ts
              FROM documents)
        WHERE len(ts) > 0
        ORDER BY doc_id"""),
      (s, dir) => {
        val stop = Seq("the", "a", "of", "and")
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"), tokens(col("text")).as("ts"))
          .filter(size(col("ts")) > 0)
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            round(stopHits(col("ts"), stop).cast("double") / size(col("ts")), 4)
              .as("stopword_ratio"),
            round(size(array_distinct(col("ts"))).cast("double") /
              size(col("ts")), 4).as("distinct_ratio"),
            round(
              least(length(col("text")).cast("double") / 200, lit(1.0)) * 0.5 +
                (size(array_distinct(col("ts"))).cast("double") /
                  size(col("ts"))) * 0.5, 4).as("quality"))
          .orderBy("doc_id")
      }),

    Q(
      "text_lang_id",
      Some("""
        SELECT doc_id, lang AS labeled,
               CASE greatest(en_s, de_s, fr_s, es_s, zh_s)
                 WHEN 0 THEN 'und'
                 WHEN en_s THEN 'en' WHEN de_s THEN 'de' WHEN fr_s THEN 'fr'
                 WHEN es_s THEN 'es' ELSE 'zh' END AS predicted
        FROM (SELECT doc_id, lang,
                len(list_filter(ts, x -> x IN ('the','a','of','and'))) AS en_s,
                len(list_filter(ts, x -> x IN ('der','die','das','und'))) AS de_s,
                len(list_filter(ts, x -> x IN ('le','la','les','et'))) AS fr_s,
                len(list_filter(ts, x -> x IN ('el','la','los','y'))) AS es_s,
                len(list_filter(ts, x -> x IN ('的','了','是','在'))) AS zh_s
              FROM (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ts
                    FROM documents))
        ORDER BY doc_id"""),
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), tokens(col("text")).as("ts"))
        val scored = stoplists.foldLeft(base) { case (df, (lg, words)) =>
          df.withColumn(s"${lg}_s", stopHits(col("ts"), words))
        }
        val best = greatest(stoplists.map { case (lg, _) => col(s"${lg}_s") }: _*)
        // argmax with the same first-match tiebreak order as the oracle CASE
        val predicted = stoplists.foldLeft(
          when(best === 0, lit("und"))) { case (acc, (lg, _)) =>
          acc.when(col(s"${lg}_s") === best, lit(lg))
        }
        scored.select(col("doc_id"), col("lang").as("labeled"),
          predicted.as("predicted"))
          .orderBy("doc_id")
      }),

    // char-n-gram language ID: count signature character trigrams per
    // language via the length-difference trick (pure integer arithmetic,
    // no regex), argmax with deterministic tiebreak. The per-row cost is
    // a handful of string scans — whole-stage codegen, no shuffle.
    Q(
      "text_lang_id_chargram",
      Some("""
        SELECT doc_id,
               CASE WHEN greatest(en_s, de_s, fr_s, es_s) = 0 THEN 'und'
                    WHEN en_s = greatest(en_s, de_s, fr_s, es_s) THEN 'en'
                    WHEN de_s = greatest(en_s, de_s, fr_s, es_s) THEN 'de'
                    WHEN fr_s = greatest(en_s, de_s, fr_s, es_s) THEN 'fr'
                    ELSE 'es' END AS predicted
        FROM (SELECT doc_id,
                CAST((length(t) - length(replace(t, 'th', '')))
                   + (length(t) - length(replace(t, ' a ', ''))) AS BIGINT) AS en_s,
                CAST((length(t) - length(replace(t, 'sch', '')))
                   + (length(t) - length(replace(t, 'der', ''))) AS BIGINT) AS de_s,
                CAST((length(t) - length(replace(t, 'eau', '')))
                   + (length(t) - length(replace(t, 'oux', ''))) AS BIGINT) AS fr_s,
                CAST((length(t) - length(replace(t, 'ción', '')))
                   + (length(t) - length(replace(t, 'ño', ''))) AS BIGINT) AS es_s
              FROM (SELECT doc_id, lower(text) AS t FROM documents))
        ORDER BY doc_id"""),
      (s, dir) => {
        def score(t: org.apache.spark.sql.Column, grams: Seq[String]) =
          grams.map(g => length(t) - length(regexp_replace(t,
            java.util.regex.Pattern.quote(g), ""))).reduce(_ + _).cast("long")
        val t0 = lower(col("text"))
        val scored = t(s, dir, "documents")
          .select(col("doc_id"),
            score(t0, Seq("th", " a ")).as("en_s"),
            score(t0, Seq("sch", "der")).as("de_s"),
            score(t0, Seq("eau", "oux")).as("fr_s"),
            score(t0, Seq("ción", "ño")).as("es_s"))
        val best = greatest(col("en_s"), col("de_s"), col("fr_s"), col("es_s"))
        scored.select(col("doc_id"),
          when(best === 0, "und")
            .when(col("en_s") === best, "en")
            .when(col("de_s") === best, "de")
            .when(col("fr_s") === best, "fr")
            .otherwise("es").as("predicted"))
          .orderBy("doc_id")
      }),

    // TF-IDF: term frequency per (doc, term) × inverse document frequency
    // — two shuffles (doc-term agg, term df agg) + a broadcast of the
    // bounded term dictionary back onto the doc-term stream. Top-3 terms
    // per doc by tf-idf with deterministic tiebreak.
    Q(
      "text_tfidf_top_terms",
      Some("""
        WITH ex AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                      x -> x <> '')) AS term FROM documents),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM ex GROUP BY 1, 2),
        df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
               FROM ex GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, term,
                 round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n)
        SELECT doc_id, term, tfidf FROM (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term) AS rk
          FROM scored)
        WHERE rk <= 3
        ORDER BY doc_id, term"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val nDocs = docs.count().toDouble
        val ex = docs.select(col("doc_id"),
          explode(tokens(col("text"))).as("term"))
        val tf = ex.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = ex.groupBy("term")
          .agg(countDistinct(col("doc_id")).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term"))
        tf.join(broadcast(df), "term")
          .withColumn("tfidf",
            round(col("tf") * log(lit(nDocs) / col("df")), 4))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"), col("tfidf"))
          .orderBy("doc_id", "term")
      }),

    // BM25 lexical retrieval (k1=1.2, b=0.75): score every document
    // against a fixed 3-term query, return the top-20. The inverted-index
    // shape at scale: explode → filter to query terms FIRST (the posting
    // stream is |q|/|vocab| of the corpus before any shuffle), tf/df
    // aggregates, broadcast the 3-row df dictionary back. Per-term weights
    // are floored to BIGINT micros before summing so the score is
    // order-independent; global n/avgdl derive from exact integer counts.
    Q(
      "text_bm25_retrieval",
      Some("""
        WITH toks AS (SELECT doc_id,
                        list_filter(string_split(text, ' '), x -> x <> '') AS ts
                      FROM documents),
        dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
        g AS (SELECT count(*) AS n, sum(dl) AS tot FROM dl),
        ex AS (SELECT doc_id, unnest(ts) AS term FROM toks),
        q AS (SELECT unnest(['spark', 'window', 'slow']) AS term),
        hits AS (SELECT ex.doc_id, ex.term FROM ex JOIN q USING (term)),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM hits GROUP BY 1, 2),
        df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
               FROM hits GROUP BY 1),
        scored AS (
          SELECT tf.doc_id,
                 CAST(floor(
                   ln(1.0 + (g.n - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl)
                        / (CAST(g.tot AS DOUBLE) / g.n)))
                   * 1000000.0) AS BIGINT) AS tm
          FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
               CROSS JOIN g),
        agg AS (SELECT doc_id, CAST(sum(tm) AS BIGINT) AS score_micro
                FROM scored GROUP BY 1)
        SELECT doc_id, score_micro,
               CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                 AS BIGINT) AS rank
        FROM agg QUALIFY rank <= 20 ORDER BY rank"""),
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ts"))
        val dl = base.select(col("doc_id"),
          size(col("ts")).cast("long").as("dl"))
        val g = dl.agg(count(lit(1)).as("n"), sum("dl").as("tot")).head()
        val n = g.getLong(0)
        val avgdl = g.getLong(1).toDouble / n
        val ex = base.select(col("doc_id"), explode(col("ts")).as("term"))
          .filter(col("term").isInCollection(Seq("spark", "window", "slow")))
        val tf = ex.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = ex.groupBy("term").agg(countDistinct("doc_id").as("df"))
        val tm = floor(
          log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl"))
                 / lit(avgdl)))
            * 1000000.0).cast("long")
        // top-20 via distributed top-k + bounded-frame ranks — no
        // single-partition sort of the scored corpus (Ranking scaladoc)
        Ranking.topKRanked(
          tf.join(broadcast(df), "term").join(dl, "doc_id")
            .select(col("doc_id"), tm.as("tm"))
            .groupBy("doc_id").agg(sum("tm").as("score_micro")),
          20, "rank", col("score_micro").desc, col("doc_id"))
          .orderBy("rank")
      }),

    // content fingerprint: md5 over the sorted distinct token set — the
    // canonical "bag of words" fingerprint for clustering near-identical
    // docs at scale (16-byte shuffle key instead of the document).
    Q(
      "text_fingerprint",
      Some("""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                 list_filter(string_split(text, ' '), x -> x <> ''))), ' '))
                 AS fingerprint
        FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            md5(array_join(array_sort(array_distinct(tokens(col("text")))),
              " ").cast("binary")).as("fingerprint"))
          .orderBy("doc_id")),

    // custom Generator (UDTF, U3): trigram rows emitted by ngrams_gen —
    // the row-multiplying extension point beyond built-in explode. The
    // oracle reproduces the n-gram semantics with list functions.
    Q(
      "text_trigrams_generator",
      Some("""
        SELECT tg, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(list_transform(range(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS tg
              FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '')
                      AS ts FROM documents))
        GROUP BY 1 ORDER BY n DESC, tg LIMIT 30"""),
      (s, dir) => {
        t(s, dir, "documents")
          .select(tokens(col("text")).as("ts"))
          .selectExpr("ngrams_gen(ts, 3)")
          .groupBy(col("ngram").as("tg"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tg"))
          .limit(30)
      }),

    Q(
      "text_top_bigrams",
      Some("""
        SELECT bg, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(list_transform(range(1, len(ts)),
                       i -> ts[i] || ' ' || ts[i + 1])) AS bg
              FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '')
                      AS ts FROM documents))
        GROUP BY 1 ORDER BY n DESC, bg LIMIT 50"""),
      (s, dir) => {
        val ts = tokens(col("text"))
        t(s, dir, "documents")
          .select(explode(zip_with(
            slice(ts, lit(1), size(ts) - 1),
            slice(ts, lit(2), size(ts) - 1),
            (a, b) => concat(a, lit(" "), b))).as("bg"))
          .groupBy("bg")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bg"))
          .limit(50)
      }),

    // heavy hitters via the native Misra-Gries TypedImperativeAggregate
    // (functions/HeavyHitters.scala): bounded-state frequent-terms — the
    // shuffle carries <= capacity counters per partition instead of one
    // row per distinct term. Capacity 64 > the corpus vocabulary (31
    // fixed tokens at every SF), so the sketch is exact here and the
    // DuckDB oracle checks it; the lossy regime's MG guarantee is pinned
    // in HeavyHittersSpec.
    Q(
      "text_heavy_hitters",
      Some("""
        SELECT tok AS term, CAST(count(*) AS BIGINT) AS min_count
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
        GROUP BY 1 ORDER BY min_count DESC, term LIMIT 10"""),
      (s, dir) => {
        t(s, dir, "documents")
          .select(explode(tokens(lower(col("text")))).as("tok"))
          .agg(call_function("misra_gries", col("tok"), lit(64)).as("sk"))
          .select(explode(col("sk")).as("hh"))
          .select(col("hh.term"), col("hh.min_count"))
          .orderBy(col("min_count").desc, col("term"))
          .limit(10)
      }),

    // explode_outer: the null-preserving generator — rows with no long
    // tokens survive with a NULL instead of disappearing (the LEFT JOIN
    // LATERAL semantic; plain explode would drop them)
    Q(
      "explode_outer_long_tokens",
      Some("""
        SELECT doc_id,
               unnest(CASE WHEN len(lt) = 0 THEN [NULL] ELSE lt END) AS tok
        FROM (SELECT doc_id,
                     list_filter(list_filter(string_split(text, ' '),
                       x -> x <> ''), x -> length(x) >= 8) AS lt
              FROM documents)
        ORDER BY doc_id, tok"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            filter(tokens(col("text")), x => length(x) >= 8).as("lt"))
          .select(col("doc_id"), explode_outer(col("lt")).as("tok"))
          .orderBy("doc_id", "tok")),

    // custom Catalyst Expression with codegen (U1 showcase): 64-bit
    // polynomial rolling-hash fingerprint. The polynomial is simple
    // enough to replay in DuckDB: HUGEINT list_reduce over the byte
    // stream emulates mod-2^64 wraparound, then a two's-complement fold
    // maps to signed BIGINT. ord(char) == byte only because the corpus is
    // ASCII (asserted true at every SF); RollingHashSpec additionally
    // pins interpreted-vs-codegen equality and the exact polynomial
    // against a reference implementation.
    Q(
      "text_rolling_hash",
      Some("""
        SELECT doc_id,
               CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
                         THEN v - 18446744073709551616::HUGEINT
                         ELSE v END AS BIGINT) AS fp
        FROM (
          SELECT doc_id, list_reduce(
                   list_prepend(0::HUGEINT,
                     list_transform(range(strlen(text)),
                       i -> ord(text[i+1:i+1])::HUGEINT)),
                   (h, b) -> (h * 1000000007::HUGEINT + b)
                             % 18446744073709551616::HUGEINT) AS v
          FROM documents)
        ORDER BY doc_id"""),
      (s, dir) => {
        t(s, dir, "documents")
          .selectExpr("doc_id", "rolling_hash(text) AS fp")
          .orderBy("doc_id")
      }),

    // BPE-ish regex tokenizer: words OR single non-space punctuation,
    // the usual pre-tokenization shape for token-count estimation.
    Q(
      "text_regex_token_count",
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]'))
                 AS BIGINT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
              .cast("long").as("n_bpe_tokens"))
          .orderBy("doc_id")),

    // ---- positional token explode (posexplode: generator WITH
    // ordinality) — the tokenize-with-offsets shape every span-level
    // NLP/labeling pipeline needs (token index → char/feature
    // alignment). Pure row-local generation: output rows ∝ input
    // tokens, zero shuffles before the final presentation sort. The
    // doc_id sample keeps the driver artifact bounded; the oracle zips
    // DuckDB's unnest with generate_subscripts for the same 0-based
    // ordinality. ----
    Q(
      "text_posexplode_offsets",
      Some("""
        WITH t AS (SELECT doc_id,
                          list_filter(string_split(text, ' '), x -> x <> '')
                            AS toks
                   FROM documents WHERE doc_id % 100 = 7)
        SELECT doc_id,
               CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
               unnest(toks) AS token
        FROM t ORDER BY doc_id, pos"""),
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .filter(col("doc_id") % 100 === 7)
          .select(col("doc_id"),
            filter(split(col("text"), " "), t => t =!= "").as("toks"))
          .select(col("doc_id"),
            posexplode(col("toks")).as(Seq("pos", "token")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("token"))
          .orderBy("doc_id", "pos")),

    // ---- winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    // the guarantee-bearing local fingerprinting scheme — any shared
    // substring of ≥ w+k-1 tokens between two documents is certain to
    // share at least one selected fingerprint (each window of w
    // consecutive k-gram hashes contributes its minimum). The per-doc
    // density is ~2/(w+1) of the grams, so the posting index that
    // near-dup joins build on is a fixed fraction of corpus size with a
    // DETECTION GUARANTEE, unlike MinHash's probabilistic recall. Pure
    // per-row HOF pipeline (k=3, w=4): zero shuffles before the
    // presentation sort; hashes are md5-derived, so the whole selection
    // replays bit-exactly in DuckDB. ----
    Q(
      "text_winnowing_fingerprints",
      Some(s"""
        WITH t AS (SELECT doc_id,
                          list_filter(string_split(text, ' '), x -> x <> '')
                            AS ts
                   FROM documents),
        g AS (SELECT doc_id,
                     list_transform(range(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                       AS grams
              FROM t WHERE len(ts) >= 6),
        h AS (SELECT doc_id,
                     list_transform(grams, g -> ($duckMd5Hex12) % 1000003)
                       AS hs
              FROM g),
        f AS (SELECT doc_id,
                     list_distinct(list_transform(range(1, len(hs) - 2),
                       j -> list_min(hs[j:j+3]))) AS fps
              FROM h)
        SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp
        FROM f ORDER BY doc_id, fp"""),
      (s, dir) =>
        winnowFingerprints(Tables.load(s, dir, "documents"))
          .orderBy("doc_id", "fp")),

    // ---- winnowing-index dedup join: doc pairs sharing ≥3 selected
    // fingerprints — substring-level contamination detection with the
    // winnowing GUARANTEE (any shared ≥6-token run necessarily meets in
    // the index; 3 shared minima ⟹ substantial overlap). Same
    // inverted-index equi-join shape as the n-gram jaccard but over the
    // ~2/(w+1)-density fingerprint index, so the candidate stream is a
    // fraction of the gram-join's. The stop-fingerprint df cap
    // (Dedup.dfCapped, cap 64, replayed in the oracle) bounds the
    // hottest posting lists: one viral boilerplate fingerprint would
    // otherwise make this self-join quadratic in its list length. At
    // sf0.01 max df is 6, so the cap is inert on the testdata — the
    // viral case is pinned synthetically in DedupSpec. ----
    Q(
      "dedup_winnowing_join",
      Some(s"""
        WITH t AS (SELECT doc_id,
                          list_filter(string_split(text, ' '), x -> x <> '')
                            AS ts
                   FROM documents),
        g AS (SELECT doc_id,
                     list_transform(range(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                       AS grams
              FROM t WHERE len(ts) >= 6),
        h AS (SELECT doc_id,
                     list_transform(grams, g -> ($duckMd5Hex12) % 1000003)
                       AS hs
              FROM g),
        f AS (SELECT doc_id,
                     list_distinct(list_transform(range(1, len(hs) - 2),
                       j -> list_min(hs[j:j+3]))) AS fps
              FROM h),
        post AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        cap AS (SELECT * FROM post WHERE fp NOT IN
                  (SELECT fp FROM post GROUP BY fp
                   HAVING count(*) > ${Dedup.DfCap}))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3
        ORDER BY 1, 2"""),
      (s, dir) => {
        // Two winnowing passes, ZERO persists (round-17 re-fix): the
        // round-16 persist of the full pre-cap fingerprint frame +
        // repartition regressed under the driver (4.53 s vs 3.13 s
        // pre-round, with 8 cores beating 32 by 3.4× — the cache fill
        // under the self-join cost more than the recompute it saved,
        // the same InMemoryRelation-under-self-join pathology the pHash
        // operator documents). With winnowFingerprints now lambda-free
        // (space_tokens), the pipeline canonicalizes: the df-cap
        // aggregate computes it once and BOTH join sides share the one
        // explicit repartition(fp) exchange via ReuseExchange — the
        // shuffle a sort-merge self-join pays at scale anyway.
        val post = Dedup.dfCapped(
          winnowFingerprints(Tables.load(s, dir, "documents")),
          "fp", Dedup.DfCap).repartition(col("fp"))
        post.as("a")
          .join(post.as("b"),
            col("a.fp") === col("b.fp") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy("id_a", "id_b")
      }),

    // ---- BPE tokenizer vocabulary TRAINING, engine-side (Sennrich et
    // al. 2016 — the vocab-construction step every LLM data pipeline
    // runs before token counting; text_regex_token_count applies a
    // fixed tokenizer, this LEARNS one). Classic BPE trains on the
    // word-frequency DICT, not the corpus: one corpus-sized shuffle
    // builds (word, freq), and every merge round after that touches
    // only the vocab-bounded dict — at 100 TB the corpus is read once
    // while 50k merge rounds would iterate on a few-million-row frame.
    // Each round = adjacent-pair counts (posexplode + per-word lead
    // window — word partitions are symbol-sequence-sized), a
    // TakeOrderedAndProject top-1 with total tie-break (cnt DESC, pair
    // ASC), and a greedy left-to-right merge apply: one aggregate() HOF
    // pass per word carrying a chr(31)-delimited accumulator — exact
    // string algebra, bit-identical in any engine, replayed verbatim by
    // the DuckDB list_reduce oracle. Rounds are fixed-count unrolled;
    // each round's dict is persisted because two consumers (pair scan,
    // next round) would re-run the lambda chain (Verify/Bench
    // clearCache between queries). Output: the 3 learned merges with
    // their selection-time pair counts + the top-10 post-merge vocab. ----
    Q(
      "text_bpe_merge_train",
      Some(s"""
        WITH words AS (
          SELECT w, count(*) AS f
          FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                  AS w FROM documents)
          WHERE length(w) >= 2 GROUP BY w),
        d0 AS (SELECT w, f,
                 list_filter(string_split(w, ''), y -> y <> '') AS syms
               FROM words),
        ${bpeRoundSql(1, "d0")},
        ${bpeRoundSql(2, "d1")},
        ${bpeRoundSql(3, "d2")},
        vocab AS (
          SELECT sym, cnt, row_number() OVER (ORDER BY cnt DESC, sym) AS rk
          FROM (SELECT x AS sym, sum(f) AS cnt
                FROM (SELECT f, unnest(syms) AS x FROM d3) GROUP BY x)
          ORDER BY cnt DESC, sym LIMIT 10),
        merges AS (
          SELECT 'merge' AS kind, i AS rk, pa || pb AS sym, cnt
          FROM (SELECT 1 AS i, * FROM b1 UNION ALL
                SELECT 2, * FROM b2 UNION ALL
                SELECT 3, * FROM b3))
        SELECT kind, CAST(rk AS BIGINT) AS rk, sym,
               CAST(cnt AS BIGINT) AS cnt
        FROM merges
        UNION ALL
        SELECT 'vocab', CAST(rk AS BIGINT), sym, CAST(cnt AS BIGINT)
        FROM vocab
        ORDER BY kind, rk"""),
      (s, dir) => {
        val (d3, bests) = bpeTrain(s, dir)
        val (b1, b2, b3) = (bests(0), bests(1), bests(2))
        val voc = d3.select(col("f"), explode(col("syms")).as("sym"))
          .groupBy("sym").agg(sum("f").as("cnt"))
          .orderBy(desc("cnt"), col("sym")).limit(10)
          .withColumn("rk", row_number().over( // 10-row frame; constant
            Window.partitionBy(pmod(hash(col("sym")), lit(1))) // non-
              .orderBy(desc("cnt"), col("sym")))) // foldable: no warning
        val merges = Seq(1 -> b1, 2 -> b2, 3 -> b3).map { case (i, b) =>
          b.select(lit("merge").as("kind"), lit(i.toLong).as("rk"),
            concat(col("pa"), col("pb")).as("sym"), col("cnt"))
        }.reduce(_ union _)
        merges
          .union(voc.select(lit("vocab").as("kind"), col("rk").cast("long"),
            col("sym"), col("cnt")))
          .selectExpr("kind", "CAST(rk AS BIGINT) AS rk", "sym",
            "CAST(cnt AS BIGINT) AS cnt")
          .orderBy("kind", "rk")
      }),

    // ---- BPE ENCODE with the trained vocabulary — how a tokenizer is
    // actually applied at corpus scale: tokenization is a dict LOOKUP,
    // never a re-derivation. The corpus explodes to words and
    // equi-joins the (word → symbol sequence) dict (every corpus word
    // is in the dict by construction here; production broadcasts the
    // dict or leaves it to AQE). Output: per-language token economics —
    // words, BPE tokens, chars, and the chars-per-token compression
    // the 3 learned merges buy. ----
    Q(
      "text_bpe_encode",
      Some(s"""
        WITH words AS (
          SELECT w, count(*) AS f
          FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                  AS w FROM documents)
          WHERE length(w) >= 2 GROUP BY w),
        d0 AS (SELECT w, f,
                 list_filter(string_split(w, ''), y -> y <> '') AS syms
               FROM words),
        ${bpeRoundSql(1, "d0")},
        ${bpeRoundSql(2, "d1")},
        ${bpeRoundSql(3, "d2")},
        cw AS (
          SELECT lang, w
          FROM (SELECT lang,
                       unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS w
                FROM documents)
          WHERE length(w) >= 2),
        enc AS (
          SELECT cw.lang, count(*) AS n_words,
                 sum(len(d3.syms)) AS n_tokens,
                 sum(length(cw.w)) AS n_chars
          FROM cw JOIN d3 ON cw.w = d3.w
          GROUP BY cw.lang),
        nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        SELECT enc.lang, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_chars AS BIGINT) AS n_chars,
               round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                 AS chars_per_token
        FROM enc JOIN nd ON enc.lang = nd.lang
        ORDER BY enc.lang"""),
      (s, dir) => {
        val d3 = bpeTrain(s, dir)._1
        val cw = t(s, dir, "documents")
          .select(col("lang"),
            explode(split(lower(col("text")), "[^a-z]+")).as("w"))
          .filter(length(col("w")) >= 2)
        val enc = cw.join(d3, "w")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(size(col("syms"))).as("n_tokens"),
            sum(length(col("w"))).as("n_chars"))
        val nd = t(s, dir, "documents").groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
        enc.join(nd, "lang")
          .selectExpr("lang", "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_words AS BIGINT) AS n_words",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(n_chars AS BIGINT) AS n_chars",
            "round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)" +
              " AS chars_per_token")
          .orderBy("lang")
      }),

    // ---- Zipf exponent fit: corpus health diagnostic (a natural-text
    // corpus obeys f ∝ r^(-α) with α ≈ 1; machine-generated or
    // boilerplate-heavy corpora bend the curve — one scalar to monitor
    // per ingest batch). Term frequencies are one shuffle (map-side
    // partial); rank needs a global order, which at 100 TB must NOT be a
    // single-partition window over the vocabulary — the fit only needs
    // the head of the distribution, so the plan takes the top 1000 terms
    // via TakeOrderedAndProject (parallel partial top-k, driver-bounded)
    // and ranks inside that literal-bounded frame. OLS slope of
    // ln f vs ln r via regr_slope on both engines. ----
    Q(
      "text_zipf_alpha",
      Some("""
        WITH tf AS (SELECT unnest(list_filter(string_split(text, ' '),
                             x -> x <> '')) AS term
                    FROM documents),
        f AS (SELECT term, count(*) AS f FROM tf GROUP BY term),
        top AS (SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
                FROM f ORDER BY f DESC, term LIMIT 1000)
        SELECT round(-regr_slope(ln(f), ln(r)), 6) AS zipf_alpha,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(max(f) AS BIGINT) AS top_freq
        FROM top"""),
      (s, dir) => {
        val top = t(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("f"))
          .orderBy(col("f").desc, col("term")).limit(1000)
          // constant-key partition spec: audited exactly like an empty
          // one (PlanShapeSpec), silences the single-partition warning —
          // the frame is literal-bounded (≤1000 rows) by the limit above
          .withColumn("r", row_number()
            .over(Window.partitionBy(pmod(col("f"), lit(1)))
              .orderBy(col("f").desc, col("term"))))
        top.agg(
          round(-regr_slope(log(col("f")), log(col("r"))), 6)
            .as("zipf_alpha"),
          count(lit(1)).cast("long").as("n_terms"),
          max(col("f")).cast("long").as("top_freq"))
      }),

    // ---- Per-document token-distribution Shannon entropy, a standard
    // repetitiveness/quality signal (low entropy ⇒ the doc is dominated
    // by few repeated tokens; used alongside the Gopher repetition
    // rules). Computed as H = ln n − (Σ c·ln c)/n over the per-doc term
    // frequencies, which needs only (count, Σ c·ln c) — no per-doc
    // probability vector. Engine-portability: the Σ c·ln c side is
    // floored to integer NANOS PER TERM before summing (BIGINT sums are
    // order-independent; the two engines may visit terms in any order),
    // and the final H combines those exact integers with one ln and one
    // division — identical IEEE doubles on both sides. Deliberately
    // explode + two doc-keyed hash aggregates, NOT nested array HOFs
    // (array_distinct/filter lambdas re-inline the tokenizer per
    // distinct term under CollapseProject — the winnowing lesson) —
    // every stage is codegen and shuffles only doc-keyed rows. ----
    Q(
      "text_token_entropy",
      Some("""
        WITH tf AS (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                         x -> x <> '')) AS tok
                FROM documents)
          GROUP BY doc_id, tok)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(floor(
                 ln(CAST(sum(c) AS DOUBLE)) * 1000000000
                 - CAST(sum(CAST(floor(c * ln(c) * 1000000000) AS BIGINT))
                        AS DOUBLE) / sum(c)) AS BIGINT) AS entropy_nano
        FROM tf GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val tf = t(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        tf.groupBy("doc_id")
          .agg(
            sum("c").cast("long").as("n_tokens"),
            count(lit(1)).cast("long").as("n_distinct"),
            floor(
              log(sum("c").cast("double")) * lit(1e9)
                - sum(floor(col("c") * log(col("c")) * lit(1e9))
                    .cast("long")).cast("double") / sum("c"))
              .cast("long").as("entropy_nano"))
          .orderBy("doc_id")
      })
  )

  // ---- BPE merge-training internals (text_bpe_merge_train) ----

  /** Greedy left-to-right application of ONE merge (pa, pb) to a symbol
    * array, as a single fold: the accumulator is a chr(31)-delimited
    * string whose tail symbol is inspected per step — when it equals pa
    * and the incoming symbol is pb, the tail is rewritten to the merged
    * symbol (so `l l l` → `ll l`, exactly BPE's scan order; the fresh
    * merged tail cannot re-merge because it no longer equals pa). The
    * delimiter guard (chr(31)||pa suffix) keeps multi-char symbols from
    * false-matching on their own suffixes. Identical lambda semantics in
    * Spark `aggregate` and DuckDB `list_reduce` (init aligned via
    * list_prepend('')). */
  private[graft] def bpeMergeLambda(endsWithFn: String): String = s"""(acc, x) -> CASE
       WHEN x = pb AND (acc = pa OR $endsWithFn(acc, chr(31) || pa))
       THEN CASE WHEN acc = pa THEN pa || pb
            ELSE substr(acc, 1, length(acc) - length(pa)) || pa || pb END
       WHEN acc = '' THEN x
       ELSE acc || chr(31) || x END"""

  /** Plan-depth bound for the BPE loop: every this-many rounds the dict's
    * lineage is truncated (localCheckpoint / reliable checkpoint via
    * -Dgraft.checkpoint.dir, see Tables.truncateLineage), so a 50k-round
    * production vocabulary build keeps O(1) plan depth instead of nesting
    * 50k lambda chains through Catalyst. 3-round oracled queries never
    * hit it. */
  private val BpeTruncateEvery = 8

  /** The N-round training chain: word-frequency dict (one corpus
    * shuffle) → N merge rounds, each touching only the vocab-bounded
    * dict. Returns the final dict and the N chosen 1-row merges.
    * Shared by the train query (emits merges + vocab, N=3) and the
    * encode query (joins the corpus against the final dict); the
    * BpeSpec runs N=10 against a driver-side greedy reference. */
  private[graft] def bpeTrain(s: SparkSession, dir: String,
      rounds: Int = 3): (DataFrame, Seq[DataFrame]) = {
    val d0 = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .withColumn("syms",
        filter(split(col("w"), ""), y => y =!= lit("")))
      .persist()
    var cur = d0
    var prev: DataFrame = null
    val bests = (1 to rounds).map { i =>
      val (nd, b) = bpeRound(cur)
      // cache hygiene at the advertised 50k-round scale: the round's
      // take(1) materialized the pair counts from `cur`, and `cur`'s
      // cache is read at most once more (nd's own first
      // materialization) — so the dict from TWO rounds back is fully
      // consumed and its persisted blocks can be released; without
      // this, persisted dicts accumulate without bound even though
      // lineage depth is O(1) via the periodic checkpoint.
      if (prev != null && (prev ne nd) && (prev ne cur)) prev.unpersist()
      prev = cur
      cur =
        if (i % BpeTruncateEvery == 0) {
          val truncated = Tables.truncateLineage(nd)
          // the checkpoint materialized nd, so nothing reachable from
          // `truncated` needs the cached chain behind it any more
          if (nd ne prev) nd.unpersist()
          prev.unpersist(); prev = null
          truncated
        } else nd
      b
    }
    (cur, bests)
  }

  /** One Spark-side BPE round on a persisted dict: (next dict, chosen
    * 1-row merge). Pair counting is posexplode + lead over the per-word
    * window (no self-join: the dict is consumed ONCE, so the round's
    * lambda chain is never re-evaluated).
    *
    * The round's winner is MATERIALIZED to the driver (a 1-row take —
    * BPE is inherently sequential per round; every production trainer
    * does exactly this) and re-enters the plan as a LocalRelation.
    * Keeping it as a lazy subplan instead would reference the dict
    * twice per round — the logical tree doubles every round, 2^N
    * growth that OOMs plan stringification by N=10. With the literal
    * winner the per-round plan growth is one crossJoin+project:
    * linear, and bounded further by the BpeTruncateEvery checkpoint. */
  private def bpeRound(d: DataFrame): (DataFrame, DataFrame) = {
    val s = d.sparkSession
    import s.implicits._
    val top = d
      .select(col("w"), col("f"), posexplode(col("syms")).as(Seq("i", "x")))
      .withColumn("pb",
        lead(col("x"), 1).over(Window.partitionBy("w").orderBy("i")))
      .filter(col("pb").isNotNull)
      .groupBy(col("x").as("pa"), col("pb"))
      .agg(sum(col("f")).as("cnt"))
      .orderBy(desc("cnt"), col("pa"), col("pb")).take(1)
    val best = top.toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toDF("pa", "pb", "cnt")
    val next =
      if (top.isEmpty) d // vocab exhausted: no adjacent pairs remain
      else d.crossJoin(broadcast(best.select("pa", "pb")))
        // native merge apply (r17): the aggregate() HOF dispatched an
        // interpreted lambda per SYMBOL and re-concatenated the whole
        // chr(31)-delimited accumulator per step; bpe_merge_apply is one
        // native pass per word with identical greedy-left semantics
        // (BpeSpec pins it against the fold and the DuckDB list_reduce)
        .withColumn("syms",
          call_function("bpe_merge_apply", col("syms"), col("pa"), col("pb")))
        .select("w", "f", "syms")
        .persist()
    (next, best)
  }

  /** DuckDB replay of one round: p{i} pair counts (unnest + positional
    * self-join), b{i} top-1, d{i} merge apply via list_reduce. */
  private def bpeRoundSql(i: Int, prev: String): String = s"""
    p$i AS (
      SELECT l.x AS pa, r.x AS pb, sum(l.f) AS cnt
      FROM (SELECT w, f, unnest(syms) AS x,
                   generate_subscripts(syms, 1) AS i FROM $prev) l
      JOIN (SELECT w, f, unnest(syms) AS x,
                   generate_subscripts(syms, 1) AS i FROM $prev) r
        ON l.w = r.w AND l.i + 1 = r.i
      GROUP BY 1, 2),
    b$i AS (SELECT pa, pb, cnt FROM p$i ORDER BY cnt DESC, pa, pb LIMIT 1),
    d$i AS (
      SELECT w, f,
        list_filter(string_split(list_reduce(list_prepend('', syms),
          ${bpeMergeLambda("ends_with")}), chr(31)), y -> y <> '') AS syms
      FROM $prev CROSS JOIN b$i)"""

  /** The winnowing pipeline on a (doc_id, text) frame → (doc_id, fp)
    * rows; k=3-gram hashes, window w=4, md5-derived values. Exposed for
    * the DedupSpec guarantee test (planted shared substrings must share
    * a fingerprint).
    *
    * Deliberately row-based (posexplode + lead/min windows), NOT nested
    * array HOFs: CollapseProject inlines a projected array column into
    * every lambda that references it, so the "obvious"
    * transform(sequence(...), j -> array_min(slice(hs, j, 4))) spelling
    * re-evaluates the hash array per window, the gram array per hash,
    * and the tokenizer per gram — multiplicatively ~400k full-text
    * splits per 54-token document (measured: one bench task pinned a
    * core for minutes at sf0.1). The window form evaluates every stage
    * exactly once per row, shares one (doc_id, pos) exchange+sort
    * across lead and the w-frame min, and streams arbitrarily long
    * documents instead of materializing per-doc arrays. */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // space_tokens, not filter(split(..)): same tokens, but the subtree
    // is lambda-free so twin pipelines canonicalize equal and the
    // winnowing self-join's two sides can share ONE exchange (r17)
    val ts = tokens(col("text"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(ts).as(Seq("pos", "tok")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      // ≥ one window of w=4 3-gram hashes; pos is 0-based → grams live
      // at pos 0..n-3
      .filter(col("n") >= 6 && col("pos") <= col("n") - 3)
      .select(col("doc_id"), col("pos"), (col("n") - 2).as("g"),
        (conv(substring(md5(
          concat_ws(" ", col("tok"), col("t1"), col("t2"))), 1, 12),
          16, 10).cast("long") % 1000003L).as("h"))
      .withColumn("fp", min(col("h")).over(w.rowsBetween(0, 3)))
      // a full w-window exists only for gram positions 0..g-4
      .filter(col("pos") <= col("g") - 4)
      .select(col("doc_id"), col("fp")).distinct()
  }
}
