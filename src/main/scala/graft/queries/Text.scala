package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Q, Tables, Exact}
import graft.functions.Fixtures
import Exact._

/** SURVEY.md §2.10 — text / NLP / LLM-pipeline operators (N1-N9).
  *
  * These are the reference's core domain (tweet enrichment, reference
  * README.md:80-97), re-expressed as pure relational computations so the
  * DuckDB oracle can hash-check them: tokenize = split, sentiment =
  * lexicon join + sum, NER = gazetteer join, embeddings = deterministic
  * md5-digit lookup vectors. Zero UDFs — everything is codegen'd column
  * expressions + explode (the UDTF workhorse, §2.11).
  *
  * Scale posture: explode multiplies rows by ~tokens-per-doc BEFORE the
  * shuffle, so every exploded pipeline here aggregates or joins on a key
  * immediately after (never shuffles raw exploded text); lexicon/
  * gazetteer dims are broadcast.
  */
object Text {

  /** q42 — tokenization + text stats (N1 N7): token counts, char
    * classes, stopword ratio — the quality-score feature vector. */
  val q42 = Q(
    "q42_tokenize_stats",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("tokens", split($"text", " "))
        .select($"doc_id", $"lang",
          size($"tokens").as("n_tokens"),
          size(array_distinct($"tokens")).as("n_unique"),
          length($"text").as("len"),
          (length($"text") - length(regexp_replace($"text", " ", ""))).as("n_spaces"),
          (size(filter($"tokens", t => t.isin("the", "a"))).cast(DoubleType) /
            size($"tokens")).as("stopword_ratio"),
          (aggregate($"tokens", lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) /
            size($"tokens")).as("avg_token_len"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tokens FROM documents)
      SELECT doc_id, lang,
        len(tokens) AS n_tokens,
        len(list_distinct(tokens)) AS n_unique,
        length(text) AS len,
        length(text) - length(replace(text, ' ', '')) AS n_spaces,
        CAST(len(list_filter(tokens, x -> x IN ('the','a'))) AS DOUBLE) / len(tokens) AS stopword_ratio,
        CAST(list_sum(list_transform(tokens, x -> length(x))) AS DOUBLE) / len(tokens) AS avg_token_len
      FROM t ORDER BY doc_id"""),
    doc = "N1 N7: tokenize + quality features; ratios are exact-int/int divides")

  /** q43 — corpus term statistics via explode (N8 first half): collection
    * frequency, document frequency, rational idf (N/df — exact in IEEE,
    * unlike log whose libm rounding differs across engines). */
  val q43 = Q(
    "q43_term_stats",
    (s, dir) => {
      import s.implicits._
      val n = Tables(s, dir, "documents").count()
      Tables(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"term")
        .agg(count(lit(1)).as("cf"), countDistinct($"doc_id").as("df"))
        .withColumn("idf_rational", lit(n.toDouble) / $"df")
        .orderBy($"term")
    },
    Some("""
      SELECT term, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df,
             CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / COUNT(DISTINCT doc_id) AS idf_rational
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term ORDER BY term"""),
    doc = "N8: explode -> agg immediately; shuffle carries (term, partial counts) only")

  /** q44 — TF-IDF, top-3 terms per document (N8 + W5). */
  val q44 = Q(
    "q44_tfidf_topk",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val n = docs.count()
      val terms = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      // df derives from tf (one row per (doc, term) already) — the raw
      // token explode is scanned ONCE, and tf's exchange is reused for
      // both consumers instead of re-exploding the corpus for distinct().
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tfidf".desc, $"term".asc)
      tf.join(df, "term")
        .withColumn("tfidf", $"tf" * (lit(n.toDouble) / $"df"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"doc_id", $"rn", $"term", $"tf", $"df", $"tfidf")
        .orderBy($"doc_id", $"rn")
    },
    Some("""
      WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
           df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
           x AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                        tf.tf * (CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df.df) AS tfidf
                 FROM tf JOIN df ON tf.term = df.term),
           r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn FROM x)
      SELECT doc_id, rn, term, tf, df, tfidf FROM r WHERE rn <= 3
      ORDER BY doc_id, rn"""),
    doc = "N8: tf x rational-idf; df side is tiny (vocab) -> broadcast joins back")

  /** q45 — sentiment scoring via lexicon join (N3; replaces Vivekn,
    * reference README.md:87-88): explode ⋈ broadcast lexicon -> sum. */
  val q45 = Q(
    "q45_sentiment",
    (s, dir) => {
      import s.implicits._
      val lex = Fixtures.lexiconDf(s)
      Tables(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .join(broadcast(lex), Seq("term"), "left_outer")
        .groupBy($"doc_id")
        .agg(sum(coalesce($"score", lit(0))).as("sentiment_score"))
        .withColumn("sentiment",
          when($"sentiment_score" > 0, "positive")
            .when($"sentiment_score" < 0, "negative")
            .otherwise("neutral"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           sc AS (SELECT doc_id, CAST(SUM(COALESCE(score, 0)) AS BIGINT) AS sentiment_score
                  FROM terms LEFT JOIN ${Fixtures.lexiconSql} ON terms.term = lex.term
                  GROUP BY doc_id)
      SELECT doc_id, sentiment_score,
             CASE WHEN sentiment_score > 0 THEN 'positive'
                  WHEN sentiment_score < 0 THEN 'negative'
                  ELSE 'neutral' END AS sentiment
      FROM sc ORDER BY doc_id"""),
    doc = "N3: lexicon-join sentiment — pure relational, broadcast dim")

  /** q46 — NER via gazetteer join (N5; replaces the pretrained NER,
    * reference README.md:60,93): entities as sorted array<struct>. */
  val q46 = Q(
    "q46_ner_gazetteer",
    (s, dir) => {
      import s.implicits._
      val gaz = Fixtures.gazetteerDf(s)
      Tables(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .join(broadcast(gaz), $"term" === gaz("phrase"))
        .groupBy($"doc_id")
        .agg(
          array_join(sort_array(collect_set(concat($"tag", lit(":"), $"term"))), "|")
            .as("entities"),
          count(lit(1)).as("n_mentions"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
             array_to_string(list_sort(list(DISTINCT tag || ':' || term)), '|') AS entities,
             COUNT(*) AS n_mentions
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
      JOIN ${Fixtures.gazetteerSql} ON t.term = gaz.phrase
      GROUP BY doc_id ORDER BY doc_id"""),
    doc = "N5: gazetteer NER; generator form = explode (our UDTF surface)")

  /** q47 — word + document embeddings (N4; replaces GloVe, reference
    * README.md:59,92): each term's vector is its first 8 md5 hex digits
    * (deterministic, engine-agnostic); doc vector = dimension-wise mean.
    * Integer-valued dims make the cross-row mean exact in IEEE. */
  val q47 = Q(
    "q47_doc_embedding",
    (s, dir) => {
      import s.implicits._
      val dims = (1 to 8).map(i =>
        conv(substring(md5($"term"), i, 1), 16, 10).cast(DoubleType).as(s"d$i"))
      val termVecs = Tables(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .select(($"doc_id" +: $"term" +: dims): _*)
      termVecs.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"),
          (1 to 8).map(i => (sum(col(s"d$i")) / count(lit(1))).as(s"dim$i")): _*)
        .orderBy($"doc_id")
    },
    Some {
      val dims = (1 to 8)
        .map(i => s"MAX(CASE WHEN pos = $i THEN mean_val END) AS dim$i")
        .mkString(",\n             ")
      s"""
      WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           d AS (SELECT doc_id, term, CAST(pos AS INT) AS pos,
                   CAST(CAST(('0x' || substr(md5(term), CAST(pos AS INT), 1)) AS BIGINT) AS DOUBLE) AS val
                 FROM terms, (SELECT unnest(range(1, 9)) AS pos)),
           m AS (SELECT doc_id, pos, SUM(val) / COUNT(*) AS mean_val, COUNT(*) AS n
                 FROM d GROUP BY doc_id, pos)
      SELECT doc_id, CAST(MIN(n) AS BIGINT) AS n_terms,
             $dims
      FROM m GROUP BY doc_id ORDER BY doc_id"""
    },
    doc = "N4: md5-digit lookup vectors; doc vec = exact-int mean per dim, " +
      "one scalar column per dimension (driver compare can't sort array cells)")

  /** q48 — language routing + per-language profile (N6). */
  val q48 = Q(
    "q48_lang_route",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          countDistinct($"source").as("n_sources"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             COUNT(DISTINCT source) AS n_sources
      FROM documents GROUP BY lang ORDER BY lang"""),
    doc = "N6: the partition key for per-lang partitioned writes at scale")

  /** q49 — exact dedup by content hash (N9/U4): the corpus has no exact
    * dups, so we union a deterministic second copy (doc_id+100000) and
    * dedup by sha2(text) keeping the min doc_id — proving collapse. */
  val q49 = Q(
    "q49_exact_dedup",
    (s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents").select($"doc_id", $"text")
      val copy = d.select(($"doc_id" + 100000).as("doc_id"), $"text")
      d.unionByName(copy)
        .withColumn("fingerprint", sha2($"text", 256))
        .groupBy($"fingerprint")
        .agg(min($"doc_id").as("kept_doc_id"), count(lit(1)).as("n_dups"))
        .orderBy($"kept_doc_id")
    },
    Some("""
      WITH u AS (SELECT doc_id, text FROM documents
                 UNION ALL SELECT doc_id + 100000, text FROM documents)
      SELECT sha256(text) AS fingerprint, MIN(doc_id) AS kept_doc_id,
             COUNT(*) AS n_dups
      FROM u GROUP BY sha256(text) ORDER BY kept_doc_id"""),
    doc = "N9: content-hash dedup; hash-groupBy shuffles 32-byte keys, not text")

  /** q62 — language identification via weighted marker-token profiles
    * (the n-gram-heuristic langid operator; profiles are fixtures on
    * this synthetic shared-vocab corpus — see Fixtures.langProfiles).
    * predicted = argmax over per-language scores, ties to smaller lang. */
  val q62 = Q(
    "q62_langid",
    (s, dir) => {
      import s.implicits._
      val prof = Fixtures.langProfilesDf(s)
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"plang".asc)
      Tables(s, dir, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("token"))
        .join(broadcast(prof), Seq("token"))
        .groupBy($"doc_id", $"lang", $"plang")
        .agg(sum($"weight").as("score"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"lang".as("declared_lang"),
          $"plang".as("predicted_lang"), $"score")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
           sc AS (SELECT doc_id, lang, plang, SUM(weight) AS score
                  FROM t JOIN ${Fixtures.langProfilesSql} ON t.token = prof.token
                  GROUP BY doc_id, lang, plang),
           r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn FROM sc)
      SELECT doc_id, lang AS declared_lang, plang AS predicted_lang,
             CAST(score AS BIGINT) AS score
      FROM r WHERE rn = 1 ORDER BY doc_id"""),
    doc = "langid: profile join + argmax rank idiom; profile dim broadcast")

  /** q63 — document fingerprint via polynomial rolling hash over the
    * token stream: h ← (h·31 + md5₃₂(token)) mod 10¹⁵. Order-sensitive
    * (unlike the set-based minhash), so token permutations produce
    * different fingerprints — the content-defined-chunking primitive. */
  val q63 = Q(
    "q63_rolling_fingerprint",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select($"doc_id",
          aggregate(
            split($"text", " "), lit(0L),
            (acc, t) => (acc * 31 +
              conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)) % 1000000000000000L)
            .as("fingerprint"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
             list_reduce(
               list_transform(string_split(text, ' '), t ->
                 CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)),
               (h, x) -> (h * 31 + x) % 1000000000000000) AS fingerprint
      FROM documents ORDER BY doc_id"""),
    doc = "rolling hash: sequential fold; list_reduce's first-element seed " +
      "equals foldLeft(0)'s first step because md5_32 < modulus")

  /** q91 — inverted index build (N17): term → SHARDED postings blocks
    * ("doc:pos" entries), the text-retrieval backend of the searchable
    * index (S8 stores rows; this builds the term-level access path).
    * posexplode → per-(term, doc) rollup (tf + first position, the
    * skip-pointer payload a retrieval index stores) → per-(term,
    * bucket) postings block where bucket = floor(doc_id / 100).
    * Scale posture (the r7-verdict fix): the previous form
    * collect_list'ed ALL of a term's postings into one row, so a
    * stop word's row grew with the corpus — the hot-key blow-up every
    * other pair/bucket path here caps. Sharding by fixed doc-id RANGE
    * (not a fixed shard COUNT, which would still scale per shard)
    * bounds every block at ≤ 100 entries no matter the corpus size;
    * a reader scans a term's blocks in (term, bucket) order — exactly
    * how a real index lays out postings in fixed-size blocks with
    * skip pointers, and the same two-level-key device as q131. Two
    * shuffles, both on compact keys; blocks serialize as sorted joined
    * strings because the driver compare rejects array cells. */
  val q91 = Q(
    "q91_inverted_index",
    (s, dir) => invertedIndex(Tables(s, dir, "documents")),
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      d AS (SELECT term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t GROUP BY term, doc_id)
      SELECT term, CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
             CAST(SUM(tf) AS BIGINT) AS cf, CAST(COUNT(*) AS BIGINT) AS df,
             string_agg(doc_id || ':' || first_pos, ','
               ORDER BY doc_id || ':' || first_pos) AS postings
      FROM d GROUP BY term, bucket ORDER BY term, bucket"""),
    doc = "N17: inverted index — explode, (term,doc) rollup, postings " +
      "sharded into ≤100-doc blocks by doc-id range (bounded rows at any " +
      "corpus size); binary-sortable 'doc:first_pos' keys agree across engines")

  /** The q91 index build, factored out so TextOpsSpec can plant a
    * stop word in every document of a synthetic corpus and pin that no
    * postings block exceeds `bucketWidth` entries (the hot-key bound).
    * Input needs `doc_id`, `text`; blocks shard on
    * bucket = floor(doc_id / bucketWidth). */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame,
      bucketWidth: Int = 100): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), min(col("pos")).as("first_pos"))
      .groupBy(col("term"), floor(col("doc_id") / bucketWidth).as("bucket"))
      .agg(sum(col("tf")).as("cf"), count(lit(1)).as("df"),
        array_join(array_sort(
          collect_list(concat_ws(":", col("doc_id"), col("first_pos")))), ",")
          .as("postings"))
      .orderBy(col("term"), col("bucket"))

  /** q92 — bigram language-model counts (N18): the n-gram statistics a
    * data pipeline feeds into LM quality filters and contamination
    * checks. Spark side builds bigrams per row with zip_with over two
    * array slices — zero joins, zero extra shuffles before the count;
    * the oracle uses the classic positional self-join, so the two
    * formulations cross-check each other. */
  val q92 = Q(
    "q92_bigrams",
    (s, dir) => {
      import s.implicits._
      val tokens = split($"text", " ")
      Tables(s, dir, "documents")
        .filter(size(tokens) >= 2)
        .select(explode(zip_with(
          slice(tokens, lit(1), size(tokens) - 1),
          slice(tokens, lit(2), size(tokens) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .groupBy($"bigram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"bigram")
        .limit(50)
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      b AS (SELECT t1.term || ' ' || t2.term AS bigram
            FROM t t1 JOIN t t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1)
      SELECT bigram, COUNT(*) AS n FROM b
      GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50"""),
    doc = "N18: per-row HOF bigrams vs positional self-join oracle — " +
      "one count shuffle, text never self-joined")

  /** q95 — winnowing fingerprints (N20): the MOSS local-overlap
    * fingerprint set per document — min k-gram hash of every w-wide
    * window (see [[graft.operators.Winnowing]] for the guarantee and
    * the once-per-row evaluation argument). Output is the set's
    * order-independent summary (count / sum / min / max / 5 smallest
    * as a string) because the driver compare rejects array cells; the
    * summary pins the exact set content via sum + extremes + head. */
  val q95 = Q(
    "q95_winnow_fingerprints",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      // relational form (see Winnowing.fingerprintRows scaladoc: the
      // nested-HOF column form is interpreted and re-evaluates the
      // hash chain per slice); left join keeps docs too short for any
      // full window, with empty-set summary values
      val agg = graft.operators.Winnowing
        .fingerprintRows(docs, "doc_id", "text", k = 4, w = 4)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_fp_raw"),
          sum($"f").as("fp_sum_raw"),
          min($"f").as("fp_min"), max($"f").as("fp_max"),
          concat_ws("|",
            transform(slice(sort_array(collect_list($"f")), 1, 5),
              _.cast(StringType))).as("fp_head_raw"))
      docs.select($"doc_id").join(agg, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_fp_raw", lit(0L)).as("n_fp"),
          coalesce($"fp_sum_raw", lit(0L)).as("fp_sum"),
          $"fp_min", $"fp_max",
          coalesce($"fp_head_raw", lit("")).as("fp_head"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH hts AS (SELECT doc_id,
                     list_transform(string_split(text, ' '), t ->
                       CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)) AS hts
                   FROM documents),
      g AS (SELECT doc_id,
              list_transform(range(1, greatest(len(hts) - 3, 0) + 1), i ->
                (((hts[i] * 31 + hts[i+1]) * 31 + hts[i+2]) * 31 + hts[i+3])
                  % ${graft.operators.MinHashLSH.Mod}) AS g
            FROM hts),
      fp AS (SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(g) - 3, 0) + 1), i ->
                   least(g[i], g[i+1], g[i+2], g[i+3]))) AS fps
             FROM g)
      SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
             COALESCE(CAST(list_sum(fps) AS BIGINT), 0) AS fp_sum,
             list_min(fps) AS fp_min, list_max(fps) AS fp_max,
             COALESCE(array_to_string(list_sort(fps)[1:5], '|'), '') AS fp_head
      FROM fp ORDER BY doc_id"""),
    doc = "N20: winnowing (MOSS) fingerprints — relational window-min over " +
      "exploded grams (one doc-id shuffle); summary columns pin the exact set")

  /** q141 — token-budget shard packing (N36): the concatenate-then-
    * split shard cut every pretraining pipeline runs — documents are
    * laid end-to-end in a deterministic order and cut into fixed
    * token-budget shards, so each doc's shard is its GLOBAL token
    * offset div the budget (fluid fill; a doc whose span crosses the
    * cut is flagged `straddles`, the rows a packer re-pads or splits).
    * The global offset is an unpartitioned running sum — the q138
    * skew case — computed by empty-group
    * [[graft.operators.PrefixScan]]: no single-task sort at any
    * corpus size. Whitespace token counts keep the oracle exact
    * (q42's tokenizer contract); swap in the BPE-ish regex count for
    * real budgets — the packing algebra is count-agnostic.
    *
    * Scale note on the bucket width: PrefixScan's precondition is a
    * BOUNDED bucket count, and unlike the price/date axes elsewhere,
    * the doc_id axis grows with the corpus — the fixed /1000 here fits
    * the fixture; at corpus scale derive the width from a cheap
    * count() (width ≈ N / 10⁴) or pre-bucket by file/partition id.
    * Same plan either way. */
  val q141 = Q(
    "q141_token_shards",
    (s, dir) => {
      import s.implicits._
      import graft.operators.PrefixScan
      val budget = 512L
      val docs = Tables(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
      PrefixScan.inclusive(docs, Nil, "doc_id", Nil, "n_tok",
          _ / 1000L, "cum")
        .select($"doc_id", $"n_tok",
          expr(s"(cum - n_tok) div $budget").as("shard_id"),
          expr(s"(cum - n_tok) % $budget").as("tok_offset"),
          (expr(s"(cum - n_tok) % $budget") + $"n_tok" > budget)
            .cast("int").as("straddles"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents WHERE text IS NOT NULL),
      c AS (
        SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM t)
      SELECT doc_id, n_tok,
             (cum - n_tok) // 512 AS shard_id,
             (cum - n_tok) % 512 AS tok_offset,
             CAST(((cum - n_tok) % 512) + n_tok > 512 AS INT) AS straddles
      FROM c ORDER BY doc_id"""),
    doc = "N36: token-budget shard packing — global token offsets via " +
      "empty-group PrefixScan (no single-task sort), fluid fill with " +
      "straddle flags")

  /** q199 — context-window chunking with overlap (N40): every document
    * split into token windows of 32 with stride 24 (8-token overlap) —
    * the retrieval/embedding prep step that decides what a "passage"
    * is. Each chunk keeps provenance (doc_id, chunk index, token
    * span), its token count, and an md5 content fingerprint (chunk-
    * level exact dedup rides on it, q49's device).
    *
    * Semantics pinned: windows start at 0, 24, 48, …; chunk i>0 is
    * emitted only while it EXTENDS coverage (previous window end
    * (i−1)·24+32 < n_tok — ADVICE r8: a trailing chunk that is a
    * strict subset of its predecessor would inflate the index with a
    * redundant passage whose distinct md5 defeats chunk-level dedup).
    * The final chunk may be short — a trailing remainder is never
    * silently dropped, a doc shorter than one window is ONE chunk,
    * and a doc with no tokens yields no chunks.
    *
    * Scale: one projection computes all chunk starts per row
    * (sequence + transform over the token array), one explode, no
    * shuffle until the presentation sort — chunking is embarrassingly
    * parallel and the exploded rows carry only (ids, span ints, 32-
    * token text, hash). */
  /** q199's chunker as a reusable operator: token windows of `window`
    * with stride `stride` (overlap = window − stride). Chunk starts
    * are 0, stride, 2·stride, …; chunk i>0 is emitted only while the
    * PREVIOUS window did not already reach the end ((i−1)·stride +
    * window < n_tok), so every emitted chunk is non-empty AND extends
    * coverage (no trailing strict-subset chunk — ADVICE r8), trailing
    * remainders are kept, and a doc shorter than one window is
    * exactly one chunk. The last-start bound stays in the n_tok >
    * window branch of a CASE so neither engine ever divides a
    * negative (Spark `div` truncates, DuckDB `//` floors — they only
    * agree on non-negatives). */
  def chunkWindows(docs: org.apache.spark.sql.DataFrame,
                   window: Int, stride: Int,
                   keepTokens: Boolean = false): org.apache.spark.sql.DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val base = docs
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(
            s"CASE WHEN size(tk) > $window " +
              s"THEN (size(tk) - $window - 1) div $stride + 1 ELSE 0 END")),
          i => slice(col("tk"), i * stride + 1, lit(window))))
          .as(Seq("chunk_id", "ctk")))
    val cols = Seq(col("doc_id"), col("chunk_id"),
      (col("chunk_id") * stride).as("tok_start"),
      size(col("ctk")).as("n_tok"),
      md5(concat_ws(" ", col("ctk"))).as("chunk_md5")) ++
      (if (keepTokens) Seq(col("ctk")) else Seq.empty)
    base.select(cols: _*)
  }

  val q199 = Q(
    "q199_chunk_windows",
    (s, dir) => {
      import s.implicits._
      chunkWindows(Tables(s, dir, "documents"), window = 32, stride = 24)
        .orderBy($"doc_id", $"chunk_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
                 FROM documents),
      c AS (SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
              list_slice(tk, CAST(g.i AS INT) * 24 + 1,
                             CAST(g.i AS INT) * 24 + 32) AS ctk
            FROM d CROSS JOIN LATERAL
              (SELECT unnest(range(0, CASE WHEN len(tk) > 32
                 THEN (len(tk) - 33) // 24 + 2 ELSE 1 END)) AS i) g
            WHERE len(tk) > 0)
      SELECT doc_id, chunk_id, CAST(chunk_id * 24 AS INT) AS tok_start,
             CAST(len(ctk) AS INT) AS n_tok,
             md5(array_to_string(ctk, ' ')) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_id"""),
    doc = "N40: context-window chunking (32-token windows, stride 24) — one " +
      "projection + one explode, provenance + md5 fingerprint per chunk, " +
      "trailing remainders kept")

  /** q203 — blocklist safety gate with obfuscation folding (N42): the
    * lexicon-based toxicity/safety filter every corpus pipeline runs
    * before training (C4's badwords gate; Raffel '20 §2.2) — with the
    * leet-speak normalization real deployments need ("5l0w" must hit
    * the "slow" entry): lowercase, fold common digit/symbol
    * substitutions via `translate`, then WORD-BOUNDARY matching
    * (token equality after split — substring matching over-blocks;
    * the scunthorpe failure mode, avoided by construction). Output:
    * per-doc token/flag counts, flagged ppm, and the ≥2% block
    * verdict via exact integer cross-multiplication (no truncated
    * threshold compare).
    *
    * Scale: one explode → broadcast lexicon left-join → per-doc
    * aggregate; raw text never shuffles (q45's shape). */
  /** q203's per-document verdict frame as a reusable piece:
    * (doc_id, n_tok, n_flagged, flag_ppm, blocked). See q203. */
  def blockVerdicts(s: org.apache.spark.sql.SparkSession,
                    docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bl = Fixtures.blocklistDf(s)
    // drop zero-length tokens BEFORE counting (ADVICE r8): repeated /
    // leading spaces must not inflate n_tok and deflate flag_ppm —
    // the >=2% gate counts real tokens only (q197/q199/BPE posture)
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .select(col("doc_id"),
        translate(lower(col("term")), Fixtures.leetFrom, Fixtures.leetTo).as("nt"))
      .join(broadcast(bl), col("nt") === col("bterm"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), count(col("bterm")).as("n_flagged"))
      .select(col("doc_id"), col("n_tok"), col("n_flagged"),
        expr("(n_flagged * 1000000) div n_tok").as("flag_ppm"),
        (col("n_flagged") * 1000000L >= col("n_tok") * 20000L)
          .cast("int").as("blocked"))
  }

  val q203 = Q(
    "q203_blocklist_gate",
    (s, dir) => {
      import s.implicits._
      blockVerdicts(s, Tables(s, dir, "documents")).orderBy($"doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id,
                   translate(lower(tok), '${Fixtures.leetFrom}',
                             '${Fixtures.leetTo}') AS nt
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                       FROM documents) WHERE len(tok) > 0),
      c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
              CAST(COUNT(bl.bterm) AS BIGINT) AS n_flagged
            FROM t LEFT JOIN ${Fixtures.blocklistSql} ON t.nt = bl.bterm
            GROUP BY doc_id)
      SELECT doc_id, n_tok, n_flagged,
             CAST((n_flagged * 1000000) // n_tok AS BIGINT) AS flag_ppm,
             CAST(n_flagged * 1000000 >= 20000 * n_tok AS INT) AS blocked
      FROM c ORDER BY doc_id"""),
    doc = "N42: blocklist safety gate (C4 badwords device) — leet-fold " +
      "normalization + word-boundary token match, broadcast lexicon, exact " +
      "integer block verdict")

  /** q209 — sequence packing by concat-and-chunk (N45): GPT-style
    * pretraining packs the tokenized corpus into fixed-length training
    * sequences by concatenating documents in a deterministic order and
    * slicing every L tokens (here L = 128). The output is the PACKING
    * MAP — for each document, the training bin(s) it lands in, its
    * offset inside each bin, the segment length, and whether the doc
    * was split across a bin boundary — exactly the provenance a
    * dataloader (and a contamination audit) needs to go from "bin
    * 4217, offset 31" back to a source document.
    *
    * Greedy bin-packing variants (first-fit by size) are inherently
    * sequential; concat-and-chunk is the standard scalable choice AND
    * the one real pipelines use, because it wastes zero tokens (every
    * bin except the last is exactly full — PackingSpec pins that law).
    *
    * The whole computation is one global running token count — the
    * degenerate single-task window at any cluster size — so it rides
    * [[graft.operators.PrefixScan]] with an EMPTY group (q138's
    * device): doc_id div 1024 buckets shard the sort (~1k docs per
    * bucket at any corpus size; the offsets frame is corpus/1024
    * rows), then everything after is a per-row projection + one
    * bounded explode (a doc spans ⌈len/L⌉+1 bins at most). No join,
    * no second shuffle; text itself never leaves the scan — only
    * (doc_id, n_tok) shuffle. */
  /** q209's packing map as a reusable piece: one row per (document,
    * bin) it occupies, with in-bin offset, in-doc offset, segment
    * length and split flag. See the q209 scaladoc for the design.
    *
    * `offset` (a 1-row frame whose first column is a non-negative
    * token count) shifts the global running count — the q213
    * APPEND-ONLY maintenance hook: packing new documents with
    * offset = the already-packed corpus total continues bin ids
    * exactly where the frozen prefix stopped, because prefix sums are
    * append-stable. It rides a constant-key equi-join (action-free
    * plan building; q207's N device). */
  def packingMap(docs: org.apache.spark.sql.DataFrame,
                 L: Int,
                 offset: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    packingMapFromCounts(
      docs.select(col("doc_id"),
        size(filter(split(col("text"), " "), t => length(t) > 0))
          .cast("long").as("n_tok")),
      L, offset)

  /** [[packingMap]] over a precomputed `(doc_id, n_tok)` frame — the
    * hook for packing by REAL tokenizer counts (q214 packs by BPE
    * symbol counts; whitespace tokens are q209's approximation). */
  def packingMapFromCounts(counts: org.apache.spark.sql.DataFrame,
                           L: Int,
                           offset: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.PrefixScan
    val base = counts.filter(col("n_tok") > 0)
    val scanned = PrefixScan.inclusive(base, Nil, "doc_id", Nil, "n_tok",
      c => c / 1024, "cum")
    offset.fold(scanned.withColumn("__off", lit(0L))) { o =>
        scanned.withColumn("__one", lit(1)).join(
          o.select(col(o.columns.head).cast("long").as("__off"))
            .withColumn("__one", lit(1)), "__one")
      }
      .select(col("doc_id"), col("n_tok"),
        (col("cum") + col("__off")).as("cum"))
      .select(col("doc_id"), col("n_tok"), col("cum"),
        (col("cum") - col("n_tok")).as("st"),
        expr(s"(cum - n_tok) div $L").as("b0"),
        expr(s"(cum - 1) div $L").as("b1"))
      .select(col("doc_id"), col("st"), col("cum"), col("b1"), col("b0"),
        explode(sequence(col("b0"), col("b1"))).as("bin_id"))
      .select(col("doc_id"), col("bin_id"),
        (greatest(col("st"), col("bin_id") * L) - col("bin_id") * L).as("bin_off"),
        (greatest(col("st"), col("bin_id") * L) - col("st")).as("doc_off"),
        (least(col("cum"), (col("bin_id") + 1) * L)
          - greatest(col("st"), col("bin_id") * L)).as("seg_len"),
        (col("b1") > col("b0")).cast("int").as("split"))
  }

  val q209 = Q(
    "q209_sequence_packing",
    (s, dir) => {
      import s.implicits._
      packingMap(Tables(s, dir, "documents"), L = 128)
        .orderBy($"doc_id", $"bin_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, n_tok,
              CAST(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM d WHERE n_tok > 0),
      e AS (SELECT doc_id, n_tok, cum, cum - n_tok AS st,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM c),
      x AS (SELECT doc_id, st, cum, b0, b1, unnest(range(b0, b1 + 1)) AS bin_id
            FROM e)
      SELECT doc_id, CAST(bin_id AS BIGINT) AS bin_id,
             CAST(GREATEST(st, bin_id * 128) - bin_id * 128 AS BIGINT) AS bin_off,
             CAST(GREATEST(st, bin_id * 128) - st AS BIGINT) AS doc_off,
             CAST(LEAST(cum, (bin_id + 1) * 128)
               - GREATEST(st, bin_id * 128) AS BIGINT) AS seg_len,
             CAST(b1 > b0 AS INT) AS split
      FROM x ORDER BY doc_id, bin_id"""),
    doc = "N45: sequence packing (concat-and-chunk, L=128) — per-doc bin " +
      "spans with offsets and split flags via empty-group PrefixScan; " +
      "zero wasted tokens, no single-task global sort")

  /** q210 — bin-level contamination audit (X91): compose the q209
    * packing map with the q203 blocklist verdicts to answer the
    * question training actually asks — WHICH TRAINING SEQUENCES are
    * poisoned, not which documents. Packing changes the blast radius
    * of a bad document: one blocked doc contaminates every bin it
    * touches, and co-packed clean documents ride in the same dropped
    * bin — so the audit must run at bin granularity AFTER packing,
    * and the per-bin flagged-token ppm (not the per-doc verdict) is
    * what decides drop-vs-keep. Output: per bin, its document count,
    * fill, flagged-token count/ppm, and the poisoned verdict (any
    * flagged-doc token → the sequence is dropped before the
    * dataloader).
    *
    * The repo's composition thesis (q186/q202/q205): stage
    * composition has failure modes only an end-to-end hash catches —
    * here, a packing map keyed to a DIFFERENT tokenization than the
    * verdict's (e.g. one side counting empty tokens) silently
    * misattributes flagged tokens to neighboring bins; both engines
    * computing the same bins from the same two stages is the check.
    *
    * Scale: the packing map costs one empty-group PrefixScan (q209),
    * the verdicts one explode + broadcast-lexicon join (q203), the
    * composition one doc_id equi-join + one bin-keyed aggregate —
    * nothing touches raw text after the two scans. */
  val q210 = Q(
    "q210_bin_contamination",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      packingMap(docs, L = 128)
        .join(blockVerdicts(s, docs).select($"doc_id", $"blocked"), "doc_id")
        .groupBy($"bin_id")
        .agg(count(lit(1)).as("n_docs"), sum($"seg_len").as("fill"),
          sum(when($"blocked" === 1, $"seg_len").otherwise(0L)).as("flagged_tok"))
        .select($"bin_id", $"n_docs", $"fill", $"flagged_tok",
          expr("(flagged_tok * 1000000) div fill").as("flagged_ppm"),
          ($"flagged_tok" > 0).cast("int").as("poisoned"))
        .orderBy($"bin_id")
    },
    Some(s"""
      WITH d AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, n_tok,
              CAST(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM d WHERE n_tok > 0),
      e AS (SELECT doc_id, cum, cum - n_tok AS st,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM c),
      x AS (SELECT doc_id, st, cum, bin_id,
              CAST(LEAST(cum, (bin_id + 1) * 128)
                - GREATEST(st, bin_id * 128) AS BIGINT) AS seg_len
            FROM (SELECT doc_id, st, cum,
                    unnest(range(b0, b1 + 1)) AS bin_id FROM e)),
      t AS (SELECT doc_id,
              translate(lower(tok), '${Fixtures.leetFrom}',
                        '${Fixtures.leetTo}') AS nt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents) WHERE len(tok) > 0),
      v AS (SELECT doc_id,
              CAST(COUNT(bl.bterm) * 1000000 >= 20000 * COUNT(*) AS INT)
                AS blocked
            FROM t LEFT JOIN ${Fixtures.blocklistSql} ON t.nt = bl.bterm
            GROUP BY doc_id)
      SELECT x.bin_id AS bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(x.seg_len) AS BIGINT) AS fill,
             CAST(SUM(CASE WHEN v.blocked = 1 THEN x.seg_len ELSE 0 END)
               AS BIGINT) AS flagged_tok,
             CAST((SUM(CASE WHEN v.blocked = 1 THEN x.seg_len ELSE 0 END)
               * 1000000) // SUM(x.seg_len) AS BIGINT) AS flagged_ppm,
             CAST(SUM(CASE WHEN v.blocked = 1 THEN x.seg_len ELSE 0 END) > 0
               AS INT) AS poisoned
      FROM x JOIN v USING (doc_id)
      GROUP BY x.bin_id ORDER BY bin_id"""),
    doc = "X91: bin-level contamination audit — q209 packing map ⋈ q203 " +
      "verdicts aggregated at training-sequence granularity; poisoned " +
      "bins carry co-packed clean tokens, which is why the audit runs " +
      "after packing")

  /** q213 — incremental packing maintenance (X93): append a new
    * document batch to an ALREADY-PACKED corpus without remapping one
    * frozen bin. Remapping is the failure mode that matters: a
    * dataloader, a curriculum schedule and every audit (q210) key on
    * bin ids, so a daily shard landing must extend the bin space, not
    * reshuffle it. Concat-and-chunk makes that free — prefix sums are
    * append-stable — so the maintained map is `packingMap(new docs,
    * offset = frozen corpus token total)`: only the delta is scanned,
    * only the delta shuffles its (doc_id, n_tok) pairs, and bin ids
    * continue exactly where the frozen prefix stopped (the boundary
    * bin keeps filling first — its leftover capacity is not wasted).
    *
    * The ORACLE never sees the incremental structure (q139's device):
    * it packs the FULL corpus from scratch and restricts to the new
    * batch — maintained ≡ rebuilt is the entire correctness claim.
    * PackingSpec pins the same law engine-side against q209's map.
    *
    * The split (doc_id < 300 = frozen, ≥ 300 = arriving batch) is a
    * fixed constant so every scale factor exercises a non-trivial
    * boundary bin. */
  val q213 = Q(
    "q213_incremental_packing",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val frozenTotal = docs.filter($"doc_id" < 300)
        .select(size(filter(split($"text", " "), t => length(t) > 0))
          .cast("long").as("n_tok"))
        .agg(coalesce(sum($"n_tok"), lit(0L)).as("off"))
      packingMap(docs.filter($"doc_id" >= 300), L = 128,
          offset = Some(frozenTotal))
        .orderBy($"doc_id", $"bin_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, n_tok,
              CAST(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM d WHERE n_tok > 0),
      e AS (SELECT doc_id, n_tok, cum, cum - n_tok AS st,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM c),
      x AS (SELECT doc_id, st, cum, b0, b1, unnest(range(b0, b1 + 1)) AS bin_id
            FROM e)
      SELECT doc_id, CAST(bin_id AS BIGINT) AS bin_id,
             CAST(GREATEST(st, bin_id * 128) - bin_id * 128 AS BIGINT) AS bin_off,
             CAST(GREATEST(st, bin_id * 128) - st AS BIGINT) AS doc_off,
             CAST(LEAST(cum, (bin_id + 1) * 128)
               - GREATEST(st, bin_id * 128) AS BIGINT) AS seg_len,
             CAST(b1 > b0 AS INT) AS split
      FROM x WHERE doc_id >= 300 ORDER BY doc_id, bin_id"""),
    doc = "X93: incremental packing — new batch packed against the frozen " +
      "corpus token total (delta-only scan, append-stable prefix sums); " +
      "oracle rebuilds from scratch and restricts, maintained == rebuilt")

  /** q215 — deterministic shard manifest (X95): the dataloader
    * handoff. Training wants bins in pseudo-random order, sharded
    * into fixed-size files, and REPRODUCIBLE — re-running the job on
    * the same corpus must yield byte-identical shard contents, or
    * checkpoint-resume reads different data (the silent run-to-run
    * nondeterminism bug class). The shuffle key is md5(bin_id||epoch)
    * — seeded, engine-agnostic, and re-derivable by anyone holding
    * the manifest; each shard of 16 bins reports its bin count, token
    * count, segment count and an md5 over its ordered member list —
    * the integrity receipt a loader checks before it trains.
    *
    * The global shuffle RANK is the degenerate single-task window, so
    * it rides a weight-1 empty-group [[graft.operators.PrefixScan]]
    * bucketed by the key's first two hex chars (256 shards of the
    * sort — q179's within-count device); the manifest aggregate
    * collects ≤ 16 ids per shard (bounded by construction).
    *
    * Scale: bins-not-docs from the start (the q209 aggregate output,
    * corpus/128 rows), one PrefixScan, one shard-keyed aggregate. */
  val q215 = Q(
    "q215_shard_manifest",
    (s, dir) => {
      import s.implicits._
      import graft.operators.PrefixScan
      val bins = packingMap(Tables(s, dir, "documents"), L = 128)
        .groupBy($"bin_id")
        .agg(count(lit(1)).as("n_segs"), sum($"seg_len").as("n_tokens"))
        .withColumn("skey", md5(concat($"bin_id".cast("string"), lit(":e0"))))
        .withColumn("one", lit(1L))
      val bucket = (c: org.apache.spark.sql.Column) =>
        conv(substring(c, 1, 2), 16, 10)
      PrefixScan.inclusive(bins, Nil, "skey", Seq("bin_id"), "one",
          bucket, "rn")
        .withColumn("shard_id", expr("(rn - 1) div 16"))
        .groupBy($"shard_id")
        .agg(count(lit(1)).as("n_bins"),
          sum($"n_tokens").as("n_tokens"),
          sum($"n_segs").as("n_segs"),
          expr("md5(concat_ws(',', transform(" +
            "array_sort(collect_list(struct(skey, bin_id))), " +
            "x -> CAST(x.bin_id AS STRING))))").as("manifest_md5"))
        .orderBy($"shard_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, n_tok,
              CAST(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM d WHERE n_tok > 0),
      e AS (SELECT doc_id, cum, cum - n_tok AS st,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM c),
      x AS (SELECT doc_id, st, cum, bin_id,
              CAST(LEAST(cum, (bin_id + 1) * 128)
                - GREATEST(st, bin_id * 128) AS BIGINT) AS seg_len
            FROM (SELECT doc_id, st, cum,
                    unnest(range(b0, b1 + 1)) AS bin_id FROM e)),
      bins AS (SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
                 CAST(SUM(seg_len) AS BIGINT) AS n_tokens,
                 md5(CAST(bin_id AS VARCHAR) || ':e0') AS skey
               FROM x GROUP BY bin_id),
      rk AS (SELECT *, row_number() OVER (ORDER BY skey, bin_id) AS rn
             FROM bins)
      SELECT (rn - 1) // 16 AS shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(n_segs) AS BIGINT) AS n_segs,
             md5(string_agg(CAST(bin_id AS VARCHAR), ',' ORDER BY skey, bin_id))
               AS manifest_md5
      FROM rk GROUP BY 1 ORDER BY shard_id"""),
    doc = "X95: deterministic shard manifest — md5-seeded bin shuffle via " +
      "weight-1 empty-group PrefixScan (no single-task rank), 16-bin " +
      "shards with ordered-member md5 integrity receipts")

  /** q223 — mixture-aware epoch packing (X98): the three audited
    * mixture/packing stages composed into the artifact a training run
    * actually consumes — an EPOCH SCHEDULE. (1) q164's temperature
    * device: per-source weight `w = floor(sqrt(tokens))` suppresses
    * the head and amplifies the tail (Conneau & Lample '19); (2)
    * q128's Hamilton largest-remainder apportionment turns the weights
    * into an exact 200-document epoch quota per source (BIGINT
    * arithmetic, ties by source — auditable to the row); (3) each
    * quota fills with its source's md5-rank top documents (q80/q128's
    * deterministic stratified pick, two-phase salted — never a
    * one-task-per-source window over raw docs); (4) the selected epoch
    * packs with q209's concat-and-chunk in doc_id order, source
    * carried onto every segment so the schedule is provenance-complete.
    *
    * q213's append law is PRESERVED by construction — the packer is
    * the same append-stable prefix-sum algebra, so a later epoch batch
    * packs against the frozen total without remapping a bin
    * (PackingSpec pins the law ON the mixture-selected corpus).
    * Composition-grade oracle (q210's thesis): a drift in ANY stage —
    * weight rounding, a quota off by one, a different pick, a count
    * mismatch — shifts bins end to end; only the full-chain hash
    * catches it.
    *
    * Scale: apportionment runs on the ~20-row source summary;
    * selection is one rank window over salt-phase survivors + a
    * broadcast quota join; packing is the empty-group PrefixScan over
    * the SELECTED set only. */
  /** q223's epoch map as a reusable stage (q225 audits it): per
    * (selected doc, bin) row with source provenance — temperature
    * weights → Hamilton quotas → md5-rank fill → packing. See the
    * q223 scaladoc for the design. */
  private[queries] def mixtureEpochMap(s: org.apache.spark.sql.SparkSession,
                                       dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val tokCol = size(filter(split($"text", " "), t => length(t) > 0))
      .cast(LongType)
    val st = docs.groupBy($"source").agg(sum(tokCol).as("n_tok"))
      .withColumn("w", floor(sqrt($"n_tok".cast(DoubleType))).cast(LongType))
    val tot = st.agg(sum($"w").as("tw"))
    val wAll = Window.partitionBy()
    val wRem = Window.orderBy($"rem".desc, $"source")
    val quotas = st.crossJoin(broadcast(tot))
      .withColumn("base", expr("(200 * w) div tw"))
      .withColumn("rem", lit(200L) * $"w" - $"base" * $"tw")
      .withColumn("leftover", lit(200L) - sum($"base").over(wAll))
      .withColumn("rk", row_number().over(wRem))
      .withColumn("quota", $"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
      .select($"source", $"quota")
    val pickKey = md5(concat(lit("mx:"), $"doc_id".cast(StringType)))
    val wSalt = Window.partitionBy($"source", $"__salt")
      .orderBy($"pick_key", $"doc_id")
    val wPick = Window.partitionBy($"source").orderBy($"pick_key", $"doc_id")
    val selected = docs.select($"doc_id", $"source", tokCol.as("n_tok"),
        pickKey.as("pick_key"), pmod(hash($"doc_id"), lit(32)).as("__salt"))
      .withColumn("spick", row_number().over(wSalt))
      .filter($"spick" <= 200)
      .withColumn("pick", row_number().over(wPick))
      .join(broadcast(quotas), Seq("source"))
      .filter($"pick" <= $"quota")
      .select($"doc_id", $"source", $"n_tok")
    packingMapFromCounts(selected.select($"doc_id", $"n_tok"), L = 128)
      .join(selected.select($"doc_id", $"source"), "doc_id")
      .select($"doc_id", $"source", $"bin_id", $"bin_off", $"doc_off",
        $"seg_len", $"split")
  }

  val q223 = Q(
    "q223_mixture_packing",
    (s, dir) => {
      import s.implicits._
      mixtureEpochMap(s, dir).orderBy($"doc_id", $"bin_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, source,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      st AS (SELECT source,
               CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w
             FROM d GROUP BY source),
      tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM st),
      q0 AS (SELECT source, w, tw, (200 * w) // tw AS base,
               200 * w - ((200 * w) // tw) * tw AS rem
             FROM st CROSS JOIN tot),
      q1 AS (SELECT source, base, 200 - SUM(base) OVER () AS leftover,
               row_number() OVER (ORDER BY rem DESC, source) AS rk
             FROM q0),
      quotas AS (SELECT source,
                   base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
                 FROM q1),
      ranked AS (SELECT doc_id, source, n_tok,
                   row_number() OVER (PARTITION BY source
                     ORDER BY md5('mx:' || CAST(doc_id AS VARCHAR)), doc_id) AS pick
                 FROM d),
      sel AS (SELECT doc_id, r.source, n_tok
              FROM ranked r JOIN quotas USING (source)
              WHERE pick <= quota),
      cum AS (SELECT doc_id, source, n_tok,
                CAST(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
              FROM sel WHERE n_tok > 0),
      e AS (SELECT doc_id, source, cum, cum - n_tok AS st2,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM cum),
      x AS (SELECT doc_id, source, st2, cum, b0, b1,
              unnest(range(b0, b1 + 1)) AS bin_id
            FROM e)
      SELECT doc_id, source, CAST(bin_id AS BIGINT) AS bin_id,
             CAST(GREATEST(st2, bin_id * 128) - bin_id * 128 AS BIGINT) AS bin_off,
             CAST(GREATEST(st2, bin_id * 128) - st2 AS BIGINT) AS doc_off,
             CAST(LEAST(cum, (bin_id + 1) * 128)
               - GREATEST(st2, bin_id * 128) AS BIGINT) AS seg_len,
             CAST(b1 > b0 AS INT) AS split
      FROM x ORDER BY doc_id, bin_id"""),
    doc = "X98: mixture-aware epoch packing — sqrt-temperature weights -> " +
      "Hamilton quotas -> md5-rank fill -> concat-and-chunk schedule with " +
      "source provenance; append law preserved, full-chain hash-checked")

  /** q225 — epoch-schedule contamination audit (X100): q210's thesis
    * applied where it finally matters — the audit must run on what
    * training actually CONSUMES, and after q223 that is the
    * mixture-selected epoch, not the raw corpus. Selection changes the
    * blast radius twice: a blocked document that the mixture did not
    * pick poisons nothing, and a picked one poisons bins packed from
    * the SELECTED ordering (different co-packing neighbors than the
    * raw q210 map). So the audit composes the q223 epoch map with the
    * q203 verdicts at epoch-bin granularity — three audited stages
    * deep, exactly the silent-drift surface the composition-grade
    * hash exists for.
    *
    * Scale: the epoch map costs q223 (selection + selected-set
    * PrefixScan), the verdicts cost q203 on the selected docs only
    * (verdict join keys on picked doc_ids), the composition is one
    * equi-join + a bin-keyed aggregate — epoch-sized, not
    * corpus-sized. */
  val q225 = Q(
    "q225_epoch_contamination",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      mixtureEpochMap(s, dir)
        .join(blockVerdicts(s, docs).select($"doc_id", $"blocked"), "doc_id")
        .groupBy($"bin_id")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"source").as("n_sources"),
          sum($"seg_len").as("fill"),
          sum(when($"blocked" === 1, $"seg_len").otherwise(0L)).as("flagged_tok"))
        .select($"bin_id", $"n_docs", $"n_sources", $"fill", $"flagged_tok",
          expr("(flagged_tok * 1000000) div fill").as("flagged_ppm"),
          ($"flagged_tok" > 0).cast("int").as("poisoned"))
        .orderBy($"bin_id")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, source,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      st AS (SELECT source,
               CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w
             FROM d GROUP BY source),
      tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM st),
      q0 AS (SELECT source, w, tw, (200 * w) // tw AS base,
               200 * w - ((200 * w) // tw) * tw AS rem
             FROM st CROSS JOIN tot),
      q1 AS (SELECT source, base, 200 - SUM(base) OVER () AS leftover,
               row_number() OVER (ORDER BY rem DESC, source) AS rk
             FROM q0),
      quotas AS (SELECT source,
                   base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
                 FROM q1),
      ranked AS (SELECT doc_id, source, n_tok,
                   row_number() OVER (PARTITION BY source
                     ORDER BY md5('mx:' || CAST(doc_id AS VARCHAR)), doc_id) AS pick
                 FROM d),
      sel AS (SELECT doc_id, r.source, n_tok
              FROM ranked r JOIN quotas USING (source)
              WHERE pick <= quota),
      cum AS (SELECT doc_id, source, n_tok,
                CAST(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
              FROM sel WHERE n_tok > 0),
      e AS (SELECT doc_id, source, cum, cum - n_tok AS st2,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM cum),
      x AS (SELECT doc_id, source, bin_id,
              CAST(LEAST(cum, (bin_id + 1) * 128)
                - GREATEST(st2, bin_id * 128) AS BIGINT) AS seg_len
            FROM (SELECT doc_id, source, st2, cum,
                    unnest(range(b0, b1 + 1)) AS bin_id FROM e)),
      t AS (SELECT doc_id,
              translate(lower(tok), '${Fixtures.leetFrom}',
                        '${Fixtures.leetTo}') AS nt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents) WHERE len(tok) > 0),
      v AS (SELECT doc_id,
              CAST(COUNT(bl.bterm) * 1000000 >= 20000 * COUNT(*) AS INT)
                AS blocked
            FROM t LEFT JOIN ${Fixtures.blocklistSql} ON t.nt = bl.bterm
            GROUP BY doc_id)
      SELECT x.bin_id AS bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT x.source) AS BIGINT) AS n_sources,
             CAST(SUM(x.seg_len) AS BIGINT) AS fill,
             CAST(SUM(CASE WHEN v.blocked = 1 THEN x.seg_len ELSE 0 END)
               AS BIGINT) AS flagged_tok,
             CAST((SUM(CASE WHEN v.blocked = 1 THEN x.seg_len ELSE 0 END)
               * 1000000) // SUM(x.seg_len) AS BIGINT) AS flagged_ppm,
             CAST(SUM(CASE WHEN v.blocked = 1 THEN x.seg_len ELSE 0 END) > 0
               AS INT) AS poisoned
      FROM x JOIN v USING (doc_id)
      GROUP BY x.bin_id ORDER BY bin_id"""),
    doc = "X100: epoch-schedule contamination audit — q223's mixture epoch " +
      "map ⋈ q203 verdicts at epoch-bin granularity (+ per-bin source " +
      "spread); the audit runs on what training consumes, three audited " +
      "stages composed under one end-to-end hash")

  /** The q213 maintenance law's DELETE member, packing half (X101):
    * a takedown (right-to-be-forgotten) request removes a document
    * set from the packed corpus WITHOUT repacking. Bins keep their
    * ids and every surviving segment keeps its exact (bin_id,
    * bin_off, doc_off, seg_len) row — the append-stability argument
    * in REVERSE: compacting freed slots would shift every downstream
    * (bin, offset) reference exactly the way bin-remap would
    * (q213's documented failure mode), so freed slots are RECORDED,
    * never reclaimed in place; a fully-freed (`dead`) bin drops from
    * the serving manifest and space is reclaimed at the next packing
    * GENERATION (q139's atomic-swap posture).
    *
    * Returns the per-bin tombstone LEDGER: live/freed segment counts
    * and token counts plus the dead flag — exactly what a dataloader
    * needs to skip freed spans and what a storage reaper needs to
    * schedule generation rollover. One aggregate over the packing
    * map; the takedown set rides a left join on the doc key. */
  def packingTakedown(map: org.apache.spark.sql.DataFrame,
                      deletedIds: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val del = deletedIds
      .select(col(deletedIds.columns.head).cast("long").as("doc_id"))
      .distinct().withColumn("__del", lit(1L))
    map.join(del, Seq("doc_id"), "left_outer")
      .withColumn("__del", coalesce(col("__del"), lit(0L)))
      .groupBy(col("bin_id"))
      .agg(sum(lit(1L) - col("__del")).as("n_live"),
        sum(col("__del")).as("n_freed"),
        sum(when(col("__del") === 0L, col("seg_len")).otherwise(0L))
          .as("live_tokens"),
        sum(when(col("__del") === 1L, col("seg_len")).otherwise(0L))
          .as("freed_tokens"))
      .withColumn("dead", (col("n_live") === 0L).cast("int"))
  }

  /** q233 — packing takedown ledger (X101): [[packingTakedown]] over
    * the q209 map with a deterministic takedown set (doc_id mod 17 =
    * 3). The oracle rebuilds the packing map from scratch in SQL and
    * re-derives the ledger independently — maintained ≡
    * recomputed-from-truth. Composition with q210's audit shape:
    * the ledger IS the bin-granularity re-audit of every taken-down
    * document's bins (blast radius = the bins it touched; co-packed
    * survivors keep serving from the same bin, minus the freed span).
    *
    * Scale: the q209 PrefixScan map (one shuffle), a broadcast-sized
    * takedown join, one aggregate — bins-not-docs output. */
  val q233 = Q(
    "q233_packing_takedown",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val map = packingMap(docs, L = 128)
      val deleted = docs.select($"doc_id").filter($"doc_id" % 17 === 3)
      packingTakedown(map, deleted).orderBy($"bin_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, n_tok,
              CAST(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM d WHERE n_tok > 0),
      e AS (SELECT doc_id, n_tok, cum, cum - n_tok AS st,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM c),
      x AS (SELECT doc_id, st, cum, b0, b1, unnest(range(b0, b1 + 1)) AS bin_id
            FROM e),
      t AS (SELECT bin_id,
              CAST(LEAST(cum, (bin_id + 1) * 128)
                - GREATEST(st, bin_id * 128) AS BIGINT) AS seg_len,
              CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END AS del
            FROM x)
      SELECT CAST(bin_id AS BIGINT) AS bin_id,
             CAST(SUM(1 - del) AS BIGINT) AS n_live,
             CAST(SUM(del) AS BIGINT) AS n_freed,
             CAST(SUM(CASE WHEN del = 0 THEN seg_len ELSE 0 END) AS BIGINT)
               AS live_tokens,
             CAST(SUM(CASE WHEN del = 1 THEN seg_len ELSE 0 END) AS BIGINT)
               AS freed_tokens,
             CAST(SUM(1 - del) = 0 AS INT) AS dead
      FROM t GROUP BY bin_id ORDER BY bin_id"""),
    doc = "X101: packing takedown — delete a doc set from the packed corpus " +
      "WITHOUT repacking (bins keep ids, freed slots recorded not " +
      "compacted — append-stability in reverse); per-bin tombstone ledger " +
      "with live/freed counts and the dead flag; oracle re-derives the " +
      "ledger from a from-scratch rebuild")

  /** One store's takedown ledger row from a `(doc_id, grp)` unit
    * frame: how many unit rows existed, how many the takedown removes,
    * how many remain, and how many GROUPS are left empty (a drained
    * bin / vanished fingerprint / emptied bucket / termless posting
    * list — the entries a reaper deletes from the store head). */
  private def storeLedger(store: String,
                          units: org.apache.spark.sql.DataFrame,
                          deleted: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val del = deleted.select(col("doc_id")).distinct()
      .withColumn("__del", lit(1L))
    units.join(del, Seq("doc_id"), "left_outer")
      .withColumn("__del", coalesce(col("__del"), lit(0L)))
      .groupBy(col("grp"))
      .agg(sum(lit(1L) - col("__del")).as("live"),
        sum(col("__del")).as("rem"))
      .agg(count(lit(1)), sum(col("live") + col("rem")).as("nb"),
        sum(col("rem")).as("nr"), sum(col("live")).as("nl"),
        sum((col("live") === 0L && col("rem") > 0L).cast("long")).as("nd"))
      .select(lit(store).as("store"), col("nb").as("n_before"),
        col("nr").as("n_removed"), col("nl").as("n_live"),
        col("nd").as("n_drained"))
  }

  /** q239 — CASCADING takedown audit (X104): the full
    * right-to-be-forgotten blast radius — ONE deletion policy (doc_id
    * mod 17 = 3, q233's) propagated through every doc-keyed store a
    * corpus pipeline maintains, with one ledger row per store:
    *
    *  - `packing` — q209 bin segments (grp = bin; drained = dead bins,
    *    exactly q233's flag),
    *  - `chunks` — q199's 32/24 context windows (grp = chunk md5;
    *    drained = fingerprints NO survivor carries — a fingerprint
    *    shared with a surviving doc legitimately stays in the store),
    *  - `minhash_buckets` — the q54 banded LSH index entries (grp =
    *    (band, key); drained = buckets left empty),
    *  - `postings` — q91's inverted-index (term, doc) pairs (grp =
    *    term; drained = terms whose postings list empties).
    *
    * The drained count is what a storage reaper deletes at the store
    * HEAD (bin manifests, fingerprint rows, bucket keys, term rows);
    * everything else is row-level tombstoning, q233's non-compaction
    * argument store by store. Oracle: all four stores recomputed from
    * scratch in SQL (the q209/q199/q54/q91 oracle devices) and led
    * through the same group-then-count algebra.
    *
    * Scale: each store's unit frame is the store build that exists
    * anyway; the takedown set rides a broadcast-sized join; one
    * aggregate per store; output is 4 rows. */
  val q239 = Q(
    "q239_cascading_takedown",
    (s, dir) => {
      import s.implicits._
      import graft.operators.MinHashLSH
      val docs = Tables(s, dir, "documents")
      val deleted = docs.select($"doc_id").filter($"doc_id" % 17 === 3)
      val packing = packingMap(docs, L = 128)
        .select($"doc_id", $"bin_id".cast("string").as("grp"))
      val chunks = chunkWindows(docs, window = 32, stride = 24)
        .select($"doc_id", $"chunk_md5".as("grp"))
      val mh = docs
        .select($"doc_id",
          posexplode(MinHashLSH.bandedSignatureArr($"text"))
            .as(Seq("band", "key")))
        .select($"doc_id",
          concat_ws(":", $"band", $"key").as("grp"))
      val postings = docs
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .filter(length($"term") > 0)
        .select($"doc_id", $"term".as("grp")).distinct()
      storeLedger("packing", packing, deleted)
        .unionByName(storeLedger("chunks", chunks, deleted))
        .unionByName(storeLedger("minhash_buckets", mh, deleted))
        .unionByName(storeLedger("postings", postings, deleted))
        .orderBy($"store")
    },
    Some {
      def led(name: String, unitsSql: String): String = s"""
        SELECT '$name' AS store,
          CAST(SUM(live + rem) AS BIGINT) AS n_before,
          CAST(SUM(rem) AS BIGINT) AS n_removed,
          CAST(SUM(live) AS BIGINT) AS n_live,
          CAST(SUM(CASE WHEN live = 0 AND rem > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_drained
        FROM (SELECT grp,
                SUM(CASE WHEN doc_id % 17 = 3 THEN 0 ELSE 1 END) AS live,
                SUM(CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END) AS rem
              FROM $unitsSql GROUP BY grp)"""
      val aLit = graft.operators.MinHashLSH.aConst(12).mkString("[", ", ", "]")
      val bLit = graft.operators.MinHashLSH.bConst(12).mkString("[", ", ", "]")
      val m = graft.operators.MinHashLSH.Mod
      s"""
      WITH d AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                     t -> len(t) > 0)) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, n_tok,
              CAST(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM d WHERE n_tok > 0),
      e AS (SELECT doc_id, cum - n_tok AS st,
              (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
            FROM c),
      punits AS (SELECT doc_id, CAST(unnest(range(b0, b1 + 1)) AS VARCHAR) AS grp
                 FROM e),
      ct AS (SELECT doc_id,
               list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
             FROM documents),
      cunits AS (SELECT doc_id,
               md5(array_to_string(list_slice(tk, CAST(g.i AS INT) * 24 + 1,
                 CAST(g.i AS INT) * 24 + 32), ' ')) AS grp
             FROM ct CROSS JOIN LATERAL
               (SELECT unnest(range(0, CASE WHEN len(tk) > 32
                  THEN (len(tk) - 33) // 24 + 2 ELSE 1 END)) AS i) g
             WHERE len(tk) > 0),
      hts AS (SELECT doc_id,
                list_transform(string_split(text, ' '), t ->
                  CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)) AS hts
              FROM documents),
      msh AS (SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(hts) - 2, 0) + 1),
                  i -> ((hts[i] * 31 + hts[i+1]) * 31 + hts[i+2]) % $m)) AS sh
              FROM hts),
      msig AS (SELECT doc_id,
                 list_transform(range(0, 12), j ->
                   list_min(list_transform(sh, h ->
                     ($aLit[CAST(j AS INT) + 1] * h
                       + $bLit[CAST(j AS INT) + 1]) % $m))) AS sig
               FROM msh WHERE len(sh) > 0),
      munits AS (SELECT doc_id, b || ':' ||
                   ((sig[CAST(b AS INT)*3+1] * 31 + sig[CAST(b AS INT)*3+2]) * 31
                     + sig[CAST(b AS INT)*3+3]) AS grp
                 FROM msig, (SELECT unnest(range(0, 4)) AS b)),
      tunits AS (SELECT DISTINCT doc_id, term AS grp FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents)
                 WHERE len(term) > 0)
      ${led("packing", "punits")}
      UNION ALL ${led("chunks", "cunits")}
      UNION ALL ${led("minhash_buckets", "munits")}
      UNION ALL ${led("postings", "tunits")}
      ORDER BY store"""
    },
    doc = "X104: cascading takedown audit — one deletion policy propagated " +
      "through packing bins, chunk fingerprints, minhash LSH buckets, and " +
      "inverted-index postings; per-store before/removed/live/drained " +
      "ledger; oracle rebuilds all four stores from scratch")

  /** Shared rollover fixture: generation G = the q209 packing, the
    * takedown set doc_id mod 3 = 0 (~1/3 of tokens tombstoned — past
    * [[graft.operators.GenerationRollover.ThresholdPpm]], so the
    * reaper's trigger fires; q233's mod-17 set deliberately stays
    * BELOW it, pinning both sides of the scheduling decision in
    * RolloverSpec). Returns (newMap, translation). */
  private def rolledOver(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables(s, dir, "documents")
    val map = packingMap(docs, L = 128)
    val deleted = docs.select(col("doc_id")).filter(col("doc_id") % 3 === 0)
    val ledger = packingTakedown(map, deleted)
    graft.operators.GenerationRollover
      .rolloverIfDue(map, ledger, deleted, L = 128)
  }

  /** Survivor packing CTEs shared by the q245-q247/q254 oracles: the
    * from-scratch new-generation map (concat-and-chunk over the docs
    * satisfying `pred`, in doc_id order). */
  private def rolloverNewCtesFor(pred: String): String = s"""
      nd AS (SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                 t -> len(t) > 0)) AS BIGINT) AS n_tok
             FROM documents WHERE $pred),
      nc AS (SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
             FROM nd WHERE n_tok > 0),
      ne AS (SELECT doc_id, n_tok, cum, cum - n_tok AS st,
               (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
             FROM nc),
      nx AS MATERIALIZED (SELECT doc_id, st, cum, b0, b1, bin_id,
               CAST(GREATEST(st, bin_id * 128) - bin_id * 128 AS BIGINT)
                 AS bin_off,
               CAST(GREATEST(st, bin_id * 128) - st AS BIGINT) AS doc_off,
               CAST(LEAST(cum, (bin_id + 1) * 128)
                 - GREATEST(st, bin_id * 128) AS BIGINT) AS seg_len
             FROM (SELECT doc_id, st, cum, b0, b1,
                     unnest(range(b0, b1 + 1)) AS bin_id FROM ne))"""

  private val rolloverNewCtes: String =
    rolloverNewCtesFor("doc_id % 3 <> 0")

  /** q245 — generation rollover, the REAPER (X108): the q233 ledger's
    * documented consumer, executed. The takedown set (doc_id mod 3 =
    * 0) tombstones ~a third of the packed tokens — past the declared
    * 25% dead-fraction threshold — so
    * [[graft.operators.GenerationRollover.rolloverIfDue]] fires:
    * generation G+1 repacks the SURVIVORS with per-doc counts derived
    * from generation G's own segment rows (no re-tokenization, no
    * text scan). The oracle never sees generation G: it packs the
    * surviving documents from scratch — rolled-over ≡
    * packed-from-scratch, the maintenance discipline's last law
    * (append q213, delete q233, rollover HERE). */
  val q245 = Q(
    "q245_generation_rollover",
    (s, dir) => {
      import s.implicits._
      rolledOver(s, dir)._1.orderBy($"doc_id", $"bin_id")
    },
    Some(s"""
      WITH $rolloverNewCtes
      SELECT doc_id, CAST(bin_id AS BIGINT) AS bin_id, bin_off, doc_off,
             seg_len, CAST(b1 > b0 AS INT) AS split
      FROM nx ORDER BY doc_id, bin_id"""),
    doc = "X108: generation rollover (the reaper) — dead-fraction trigger " +
      "past the declared 25% threshold repacks survivors into generation " +
      "G+1 using generation G's own seg_len arithmetic; oracle packs the " +
      "survivors from scratch, rolled-over == rebuilt")

  /** q246 — rollover TRANSLATION map (X108b): the re-keying artifact
    * that makes a rollover deployable — every dataloader position,
    * curriculum entry and audit row keyed to generation G must move
    * to G+1 without touching the corpus. One row per intersection of
    * an old surviving segment with a new segment in doc coordinate
    * space: old (bin, offset) + in-span delta = new (bin, offset).
    * Spans partition every surviving token (RolloverSpec pins the
    * conservation laws); the oracle computes BOTH packings from
    * scratch and intersects them independently. */
  val q246 = Q(
    "q246_rollover_translation",
    (s, dir) => {
      import s.implicits._
      rolledOver(s, dir)._2
        .orderBy($"doc_id", $"old_bin_id", $"new_bin_id")
    },
    Some(s"""
      WITH od AS (SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                 t -> len(t) > 0)) AS BIGINT) AS n_tok
             FROM documents),
      oc AS (SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
             FROM od WHERE n_tok > 0),
      oe AS (SELECT doc_id, cum, cum - n_tok AS st,
               (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
             FROM oc),
      ox AS (SELECT doc_id, CAST(bin_id AS BIGINT) AS old_bin_id,
               CAST(GREATEST(st, bin_id * 128) - bin_id * 128 AS BIGINT)
                 AS old_bin_off,
               CAST(GREATEST(st, bin_id * 128) - st AS BIGINT) AS odo,
               CAST(LEAST(cum, (bin_id + 1) * 128)
                 - GREATEST(st, bin_id * 128) AS BIGINT) AS olen
             FROM (SELECT doc_id, st, cum,
                     unnest(range(b0, b1 + 1)) AS bin_id FROM oe)
             WHERE doc_id % 3 <> 0),
      $rolloverNewCtes
      SELECT ox.doc_id AS doc_id, old_bin_id,
             CAST(old_bin_off + GREATEST(odo, doc_off) - odo AS BIGINT)
               AS old_bin_off,
             CAST(bin_id AS BIGINT) AS new_bin_id,
             CAST(bin_off + GREATEST(odo, doc_off) - doc_off AS BIGINT)
               AS new_bin_off,
             CAST(LEAST(odo + olen, doc_off + seg_len)
               - GREATEST(odo, doc_off) AS BIGINT) AS span_len
      FROM ox JOIN nx ON ox.doc_id = nx.doc_id
      WHERE odo < doc_off + seg_len AND doc_off < odo + olen
      ORDER BY doc_id, old_bin_id, new_bin_id"""),
    doc = "X108b: rollover translation map — old->new (bin, offset) spans " +
      "from intersecting generation G and G+1 segments in doc coordinates; " +
      "dataloader re-keying without a corpus touch; oracle intersects two " +
      "independent from-scratch packings")

  /** q247 — generation-G+1 contamination audit (X108c): the q210
    * composition re-run on the ROLLED-OVER corpus — the audit a real
    * pipeline must re-issue after any rollover, because bin ids,
    * fills and blast radii all changed. Poisoned-doc verdicts are
    * corpus facts (unchanged); what moves is which G+1 training
    * sequences they poison. Three stages under one end-to-end hash:
    * takedown → rollover → audit. */
  val q247 = Q(
    "q247_rollover_audit",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      rolledOver(s, dir)._1
        .join(blockVerdicts(s, docs).select($"doc_id", $"blocked"), "doc_id")
        .groupBy($"bin_id")
        .agg(count(lit(1)).as("n_docs"), sum($"seg_len").as("fill"),
          sum(when($"blocked" === 1, $"seg_len").otherwise(0L)).as("flagged_tok"))
        .select($"bin_id", $"n_docs", $"fill", $"flagged_tok",
          expr("(flagged_tok * 1000000) div fill").as("flagged_ppm"),
          ($"flagged_tok" > 0).cast("int").as("poisoned"))
        .orderBy($"bin_id")
    },
    Some(s"""
      WITH $rolloverNewCtes,
      t AS (SELECT doc_id,
              translate(lower(tok), '${Fixtures.leetFrom}',
                        '${Fixtures.leetTo}') AS nt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents) WHERE len(tok) > 0),
      v AS (SELECT doc_id,
              CAST(COUNT(bl.bterm) * 1000000 >= 20000 * COUNT(*) AS INT)
                AS blocked
            FROM t LEFT JOIN ${Fixtures.blocklistSql} ON t.nt = bl.bterm
            GROUP BY doc_id)
      SELECT CAST(nx.bin_id AS BIGINT) AS bin_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nx.seg_len) AS BIGINT) AS fill,
             CAST(SUM(CASE WHEN v.blocked = 1 THEN nx.seg_len ELSE 0 END)
               AS BIGINT) AS flagged_tok,
             CAST((SUM(CASE WHEN v.blocked = 1 THEN nx.seg_len ELSE 0 END)
               * 1000000) // SUM(nx.seg_len) AS BIGINT) AS flagged_ppm,
             CAST(SUM(CASE WHEN v.blocked = 1 THEN nx.seg_len ELSE 0 END) > 0
               AS INT) AS poisoned
      FROM nx JOIN v USING (doc_id)
      GROUP BY nx.bin_id ORDER BY bin_id"""),
    doc = "X108c: post-rollover contamination audit — q210's bin-level " +
      "audit re-issued on generation G+1 (verdicts unchanged, blast radii " +
      "remapped); takedown -> rollover -> audit under one hash")

  /** q251 — rollover RE-KEY lookup (X108f): the operation q246's map
    * exists FOR — a dataloader/curriculum/audit holds generation-G
    * references "(bin, offset)" and must move each to its G+1 home
    * with one lookup: find the translation span covering the old
    * position, add the in-span delta. Probe set: one deterministic
    * probe per OLD bin at offset (7·bin) mod L — some probes land on
    * FREED spans (a tombstoned token has no G+1 home: the probe drops,
    * exactly the dataloader's skip semantics), the rest re-key.
    * Conservation (RolloverSpec) guarantees ≤ 1 covering span per
    * probe, so the output is keyed by old bin alone.
    *
    * Scale: the probe frame is bins-sized; the lookup is an equi-join
    * on old_bin_id with a bounded residual range predicate (spans per
    * bin ≤ docs per bin) — the same shape a real re-key join runs at
    * corpus scale. */
  val q251 = Q(
    "q251_rollover_rekey",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val map = packingMap(docs, L = 128)
      val trans = rolledOver(s, dir)._2
      val probes = map.select($"bin_id".as("old_bin_id")).distinct()
        .withColumn("old_off", ($"old_bin_id" * 7) % 128)
      probes.alias("p")
        .join(trans.alias("t"),
          col("p.old_bin_id") === col("t.old_bin_id") &&
            col("p.old_off") >= col("t.old_bin_off") &&
            col("p.old_off") < col("t.old_bin_off") + col("t.span_len"))
        .select(col("p.old_bin_id").as("old_bin_id"),
          col("p.old_off").as("old_off"), col("t.doc_id").as("doc_id"),
          col("t.new_bin_id").as("new_bin_id"),
          (col("t.new_bin_off") + col("p.old_off") - col("t.old_bin_off"))
            .as("new_off"))
        .orderBy($"old_bin_id")
    },
    Some(s"""
      WITH od AS (SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                 t -> len(t) > 0)) AS BIGINT) AS n_tok
             FROM documents),
      oc AS (SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
             FROM od WHERE n_tok > 0),
      oe AS (SELECT doc_id, cum, cum - n_tok AS st,
               (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
             FROM oc),
      ox AS MATERIALIZED (SELECT doc_id, CAST(bin_id AS BIGINT) AS old_bin_id,
               CAST(GREATEST(st, bin_id * 128) - bin_id * 128 AS BIGINT)
                 AS old_bin_off,
               CAST(GREATEST(st, bin_id * 128) - st AS BIGINT) AS odo,
               CAST(LEAST(cum, (bin_id + 1) * 128)
                 - GREATEST(st, bin_id * 128) AS BIGINT) AS olen
             FROM (SELECT doc_id, st, cum,
                     unnest(range(b0, b1 + 1)) AS bin_id FROM oe)),
      pr AS (SELECT DISTINCT old_bin_id,
               (old_bin_id * 7) % 128 AS old_off FROM ox),
      $rolloverNewCtes,
      tr AS (SELECT ox.doc_id AS doc_id, old_bin_id,
               CAST(old_bin_off + GREATEST(odo, doc_off) - odo AS BIGINT)
                 AS old_bin_off,
               CAST(bin_id AS BIGINT) AS new_bin_id,
               CAST(bin_off + GREATEST(odo, doc_off) - doc_off AS BIGINT)
                 AS new_bin_off,
               CAST(LEAST(odo + olen, doc_off + seg_len)
                 - GREATEST(odo, doc_off) AS BIGINT) AS span_len
             FROM ox JOIN nx ON ox.doc_id = nx.doc_id
             WHERE ox.doc_id % 3 <> 0
               AND odo < doc_off + seg_len AND doc_off < odo + olen)
      SELECT p.old_bin_id AS old_bin_id,
             CAST(p.old_off AS BIGINT) AS old_off, t.doc_id AS doc_id,
             t.new_bin_id AS new_bin_id,
             CAST(t.new_bin_off + p.old_off - t.old_bin_off AS BIGINT)
               AS new_off
      FROM pr p JOIN tr t ON p.old_bin_id = t.old_bin_id
        AND p.old_off >= t.old_bin_off
        AND p.old_off < t.old_bin_off + t.span_len
      ORDER BY old_bin_id"""),
    doc = "X108f: rollover re-key lookup — one probe per generation-G bin " +
      "through the q246 translation map (covering-span join + in-span " +
      "delta); probes on freed spans drop (tombstoned tokens have no G+1 " +
      "home), the rest land on their new (bin, offset); oracle re-derives " +
      "both packings and the map independently")

  /** q254 — translation-chain COMPOSITION (X108g): the offline
    * chain-collapse T29's generation chain documents as its consumer.
    * Two rollovers fire (del₁ = doc_id mod 3 = 0, then del₂ = mod 5 =
    * 1 among survivors — `GenerationRollover.rollover` applied
    * directly; scheduling is q245's story), leaving a 2-hop
    * translation chain; `composeTranslations` intersects the hops in
    * the MIDDLE generation's coordinates (the q251 covering-span join
    * shape) and coalesces maximal bi-contiguous runs with a per-doc
    * gaps-and-islands pass. Law: maximal bi-contiguous runs are
    * unique, so composed ≡ the single-shot direct G0→G2 translation
    * row for row — the oracle computes that direct map from TWO
    * from-scratch packings (generation 0 over all docs, the final
    * generation over final survivors) and intersects them, never
    * seeing the middle generation at all. After the collapse a
    * dataloader pays ONE covering-span lookup again regardless of how
    * many rollovers have fired. */
  val q254 = Q(
    "q254_translation_compose",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val map0 = packingMap(docs, L = 128)
      val del1 = docs.select($"doc_id").filter($"doc_id" % 3 === 0)
      val del2 = docs.select($"doc_id")
        .filter($"doc_id" % 3 =!= 0 && $"doc_id" % 5 === 1)
      val (map1, t01) = graft.operators.GenerationRollover
        .rollover(map0, del1, L = 128)
      val (_, t12) = graft.operators.GenerationRollover
        .rollover(map1, del2, L = 128)
      graft.operators.GenerationRollover.composeTranslations(t01, t12)
        .orderBy($"doc_id", $"old_bin_id", $"old_bin_off")
    },
    Some(s"""
      WITH od AS (SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                 t -> len(t) > 0)) AS BIGINT) AS n_tok
             FROM documents),
      oc AS (SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
             FROM od WHERE n_tok > 0),
      oe AS (SELECT doc_id, cum, cum - n_tok AS st,
               (cum - n_tok) // 128 AS b0, (cum - 1) // 128 AS b1
             FROM oc),
      ox AS (SELECT doc_id, CAST(bin_id AS BIGINT) AS old_bin_id,
               CAST(GREATEST(st, bin_id * 128) - bin_id * 128 AS BIGINT)
                 AS old_bin_off,
               CAST(GREATEST(st, bin_id * 128) - st AS BIGINT) AS odo,
               CAST(LEAST(cum, (bin_id + 1) * 128)
                 - GREATEST(st, bin_id * 128) AS BIGINT) AS olen
             FROM (SELECT doc_id, st, cum,
                     unnest(range(b0, b1 + 1)) AS bin_id FROM oe)
             WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 1),
      ${rolloverNewCtesFor("doc_id % 3 <> 0 AND doc_id % 5 <> 1")}
      SELECT ox.doc_id AS doc_id, old_bin_id,
             CAST(old_bin_off + GREATEST(odo, doc_off) - odo AS BIGINT)
               AS old_bin_off,
             CAST(bin_id AS BIGINT) AS new_bin_id,
             CAST(bin_off + GREATEST(odo, doc_off) - doc_off AS BIGINT)
               AS new_bin_off,
             CAST(LEAST(odo + olen, doc_off + seg_len)
               - GREATEST(odo, doc_off) AS BIGINT) AS span_len
      FROM ox JOIN nx ON ox.doc_id = nx.doc_id
      WHERE odo < doc_off + seg_len AND doc_off < odo + olen
      ORDER BY doc_id, old_bin_id, old_bin_off"""),
    doc = "X108g: translation-chain composition — two rollover hops " +
      "composed into the direct G0->G2 map by intersecting spans in the " +
      "middle generation's coordinates and coalescing maximal " +
      "bi-contiguous runs; oracle intersects two independent from-scratch " +
      "packings and never sees the middle generation")

  /** q258 — COMPRESSED postings (X109): the q91 inverted index's
    * STORAGE layer, the way production IR systems actually keep it —
    * gap (delta) encoding of the sorted doc ids + LEB128 varints
    * ([[graft.operators.PostingCodec]]; Lucene's vInt, protobuf's
    * wire format). The stream is pure integer arithmetic, so the
    * DuckDB twin replays it BYTE FOR BYTE from the rebuilt index:
    * per block, values = first doc id, then per posting (gap, tf,
    * first_pos), each expanded to its LEB128 bytes by a 4-tier CASE
    * and hashed; the Spark side additionally decodes its own stream
    * back (`decode_ok` — roundtrip strict, trailing bytes rejected).
    * Gap encoding is what makes q91's bucketing pay: within a
    * ≤100-doc block every gap codes in ONE byte; the absolute first
    * id and the positions exercise the multi-byte tiers.
    *
    * Scale: a per-block map over already-blocked rows (block size
    * bounded by the q91 bucket width at any corpus size); no new
    * shuffle beyond the index build itself. */
  val q258 = Q(
    "q258_compressed_postings",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("term"))
        .groupBy($"term", $"doc_id")
        .agg(count(lit(1)).as("tf"), min($"pos").as("first_pos"))
        .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(
          struct($"doc_id", $"tf", $"first_pos"))).as("ps"))
        .as[(String, Long, Seq[(Long, Long, Long)])]
        .map { case (term, bucket, ps) =>
          // the oracle's LEB128 expansion covers 4 tiers (< 2^28);
          // assert the bound where a violation would start, not at an
          // unexplained hash mismatch
          require(ps.head._1 < (1L << 28) &&
            ps.forall(p => p._2 < (1L << 28) && p._3 < (1L << 28)),
            s"q258: value exceeds the oracle's 4-tier varint bound")
          val bytes = graft.operators.PostingCodec.encode(ps)
          val ok = graft.operators.PostingCodec.decode(bytes, ps.size)
            .contains(ps)
          val h = bytes.foldLeft(0L)((a, b) =>
            (a * 31 + (b & 0xff)) % 1000000007L)
          (term, bucket, ps.size.toLong, bytes.length.toLong, h,
            if (ok) 1L else 0L)
        }
        .toDF("term", "bucket", "df", "n_bytes", "stream_hash",
          "decode_ok")
        .orderBy($"term", $"bucket")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      d AS (SELECT term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t GROUP BY term, doc_id),
      g AS (SELECT term, CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
              list(CAST(doc_id AS BIGINT) ORDER BY doc_id) AS ds,
              list(CAST(tf AS BIGINT) ORDER BY doc_id) AS tfs,
              list(CAST(first_pos AS BIGINT) ORDER BY doc_id) AS fps
            FROM d GROUP BY term, bucket),
      v AS (SELECT term, bucket, len(ds) AS df,
              list_concat([ds[1]],
                flatten(list_transform(range(1, len(ds) + 1), i ->
                  CASE WHEN i = 1 THEN [tfs[1], fps[1]]
                       ELSE [ds[i] - ds[i - 1], tfs[i], fps[i]] END)))
                AS vals
            FROM g),
      b AS (SELECT term, bucket, df,
              flatten(list_transform(vals, x -> CASE
                WHEN x < 128 THEN [x]
                WHEN x < 16384 THEN [x % 128 + 128, x // 128]
                WHEN x < 2097152 THEN
                  [x % 128 + 128, (x // 128) % 128 + 128, x // 16384]
                ELSE [x % 128 + 128, (x // 128) % 128 + 128,
                      (x // 16384) % 128 + 128, x // 2097152] END))
                AS bytes
            FROM v)
      SELECT term, bucket, CAST(df AS BIGINT) AS df,
             CAST(len(bytes) AS BIGINT) AS n_bytes,
             CAST(list_reduce(bytes, (h, x) -> (h * 31 + x) % 1000000007)
               AS BIGINT) AS stream_hash,
             CAST(1 AS BIGINT) AS decode_ok
      FROM b ORDER BY term, bucket"""),
    doc = "X109: compressed postings — the inverted index's storage layer " +
      "(gap encoding + LEB128 varints, Lucene's vInt); the oracle replays " +
      "the byte stream from the rebuilt index via a 4-tier varint " +
      "expansion and hashes it byte for byte; decode_ok pins the strict " +
      "roundtrip")

  /** q259 — search SERVED through the compressed postings (X109b):
    * the read path q258 left unexercised (r14 verdict "What's missing
    * #2"). The index is stored ONLY as q258's LEB128 byte streams
    * (term, bucket, df, bytes); a multi-term probe filters to the
    * query terms' blocks, DECODES each varint stream back to (doc_id,
    * tf, first_pos) rows — the thing a dataloader actually runs — and
    * ranks documents from the decoded rows alone (matched-term count,
    * then total tf, then doc id). The oracle computes the same search
    * straight from `documents`, so a hash match proves the probe's
    * decode reproduced the stored postings exactly; any corruption or
    * non-canonical stream throws at the probe (strict decode), never
    * surfaces as a silent ranking change.
    *
    * Scale: the probe touches ONLY the query terms' blocks (at scale
    * the store is partitioned by term — the filter is the block
    * fetch), decode is per-block bounded by the q91 bucket width, and
    * the final aggregate is keyed by doc_id over Σ df(probed terms)
    * rows — never corpus-sized. The encode pass is the index build
    * itself (q258's cost, paid once, amortized over every probe). */
  /** The compressed posting STORE (keys…, term, bucket, df, bytes) of
    * a (keys…, doc_id, text) frame — q258's encode pass factored out,
    * shared by every serve, merge and maintenance verb. Blocks survive
    * only as LEB128 byte streams. `keys` are the leading Long
    * placement columns: none for one index, `shard` for a doc-sharded
    * sub-index per shard (q283), `node, origin` for the replica copy
    * (q294). */
  private[graft] def postingStore(
      docs: org.apache.spark.sql.DataFrame, keys: String*)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val postings = docs
      .select(keys.map(col) :+ col("doc_id") :+
        posexplode(split(col("text"), " ")): _*)
      .select(keys.map(col) :+ $"doc_id" :+ ($"pos" + 1).as("pos") :+
        $"col".as("term"): _*)
      .groupBy(keys.map(col) :+ $"term" :+ $"doc_id": _*)
      .agg(count(lit(1)).as("tf"), min($"pos").as("first_pos"))
    graft.operators.PostingBlocks.encode(postings.select(keys.map(col) ++
      Seq($"term", graft.operators.PostingBlocks.bucket, $"doc_id", $"tf",
        $"first_pos"): _*))
  }

  /** The front-coded term-dictionary STORE (block, n_terms, first_term,
    * bytes) of a documents frame — q268's encode pass factored out and
    * shared by q270 (lookup), q277 (prefix search) and q292 (suggest),
    * so the build cannot drift between them (ADVICE r15: q292 had
    * copied q277's ~35 build lines verbatim). Blocks survive only as
    * front-coded byte streams; q268 keeps its own inline build because
    * its map also emits the stream hash + decode_ok evidence. */
  private[graft] def dictStore(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("term")).distinct()
      .withColumn("w", lit(1L))
    graft.operators.PrefixScan.inclusive(
      vocab, Nil, "term", Nil, "w",
      c => ascii(c) * 256 + ascii(substring(c, 2, 1)), "rank")
      .select($"term", expr("(rank - 1) DIV 16").as("block"))
      .groupBy($"block")
      .agg(sort_array(collect_list($"term")).as("terms"))
      .as[(Long, Seq[String])]
      .map { case (b, ts) =>
        (b, ts.size.toLong, ts.head,
          graft.operators.TermDictionary.encode(ts))
      }
      .toDF("block", "n_terms", "first_term", "bytes")
  }

  /** q277's metadata prefix route over a [[dictStore]] frame: sorted
    * blocks cover [first_term_i, first_term_{i+1}), so the candidate
    * set for prefix `p` is the blocks whose range intersects
    * [p, p·MAX] — one lead() over the vocab/16-row metadata frame (the
    * sanctioned metadata-window class). Shared by q277 and q292. */
  private[graft] def dictPrefixBlocks(
      dict: org.apache.spark.sql.DataFrame, p: String)
      : org.apache.spark.sql.DataFrame = {
    val s = dict.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"first_term")
    dict
      .withColumn("next_first", lead($"first_term", 1).over(w))
      .filter($"first_term" < lit(p + "\u007f") &&
        ($"next_first".isNull || $"next_first" > lit(p)))
  }

  val q259 = Q(
    "q259_postings_serve",
    (s, dir) => {
      import s.implicits._
      val qTerms = Seq("spark", "window", "merge", "stream")
      // STORE: blocks survive only as LEB128 byte streams
      val store = postingStore(Tables(s, dir, "documents"))
      // PROBE: filter to the query terms' blocks, then decode-on-read
      val decoded = store
        .filter($"term".isin(qTerms: _*))
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (term, _, df, bytes) =>
          val ps = graft.operators.PostingCodec.decode(bytes, df)
            .getOrElse(throw new IllegalStateException(
              s"q259: corrupt postings block for term '$term'"))
          ps.map { case (doc, tf, fp) => (term, doc, tf, fp) }
        }
        .toDF("term", "doc_id", "tf", "first_pos")
      decoded.groupBy($"doc_id")
        .agg(count_distinct($"term").as("n_terms"),
          sum($"tf").as("tf_sum"), min($"first_pos").as("first_hit"))
        .orderBy($"n_terms".desc, $"tf_sum".desc, $"doc_id")
        .limit(50)
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h AS (SELECT term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t WHERE term IN ('spark', 'window', 'merge', 'stream')
            GROUP BY term, doc_id)
      SELECT doc_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
             CAST(SUM(tf) AS BIGINT) AS tf_sum,
             CAST(MIN(first_pos) AS BIGINT) AS first_hit
      FROM h GROUP BY doc_id
      ORDER BY n_terms DESC, tf_sum DESC, doc_id LIMIT 50"""),
    doc = "X109b: search served THROUGH q258's compressed postings — the " +
      "store is LEB128 byte streams only, the probe decodes varint blocks " +
      "on the read path and ranks from decoded rows; hash match vs the " +
      "from-documents oracle proves decode-on-probe is lossless")

  /** q263 — PHRASE search through POSITIONAL compressed postings
    * (X109c, r15): the proximity layer q259's index lacks — "table
    * scan" as a PHRASE needs every position of both terms, and
    * production indexes store them delta-coded next to the postings
    * (Lucene's .pos data). The index survives ONLY as
    * [[graft.operators.PostingCodec.encodePositional]] byte streams
    * (per posting: doc gap, npos, first position, position gaps — all
    * canonical-strict LEB128); the phrase probe filters to the two
    * terms' blocks, DECODES positions on the read path, and matches
    * adjacency with one equi-join on (doc_id, pos) — term2's
    * positions shifted by −1, so the join key IS the phrase
    * constraint (no window, no inequality join). The oracle computes
    * the same phrase match straight from `documents` (the q92
    * positional self-join device), so a hash match proves the
    * positional decode is lossless at every position.
    *
    * Scale: q259's posture — the probe touches only the phrase
    * terms' blocks; position lists are doc-length-bounded; the
    * adjacency join is an equi-join on compact (doc, pos) keys whose
    * input is Σ tf(phrase terms) rows, never corpus-sized. */
  val q263 = Q(
    "q263_phrase_search",
    (s, dir) => {
      import s.implicits._
      val phrase = Seq("table", "scan")
      val store = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select($"doc_id", ($"pos" + 1).cast("long").as("pos"),
          $"col".as("term"))
        .groupBy($"term", $"doc_id")
        .agg(sort_array(collect_list($"pos")).as("ps"))
        .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(struct($"doc_id", $"ps")))
          .as("block"))
        .as[(String, Long, Seq[(Long, Seq[Long])])]
        .map { case (t, b, blk) =>
          (t, b, blk.size,
            graft.operators.PostingCodec.encodePositional(blk))
        }.toDF("term", "bucket", "df", "bytes")
      val decoded = store.filter($"term".isin(phrase: _*))
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, _, df, bytes) =>
          graft.operators.PostingCodec.decodePositional(bytes, df)
            .getOrElse(throw new IllegalStateException(
              s"q263: corrupt positional block for term '$t'"))
            .flatMap { case (doc, ps) => ps.map(p => (t, doc, p)) }
        }.toDF("term", "doc_id", "pos")
      val t1 = decoded.filter($"term" === phrase.head)
        .select($"doc_id", $"pos")
      val t2 = decoded.filter($"term" === phrase(1))
        .select($"doc_id", ($"pos" - 1).as("pos"))
      t1.join(t2, Seq("doc_id", "pos"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_phrase"), min($"pos").as("first_hit"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h1 AS (SELECT doc_id, pos FROM t WHERE term = 'table'),
      h2 AS (SELECT doc_id, pos FROM t WHERE term = 'scan')
      SELECT h1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrase,
             CAST(MIN(h1.pos) AS BIGINT) AS first_hit
      FROM h1 JOIN h2 ON h1.doc_id = h2.doc_id AND h2.pos = h1.pos + 1
      GROUP BY h1.doc_id ORDER BY h1.doc_id"""),
    doc = "X109c: phrase search through POSITIONAL compressed postings — " +
      "delta-coded position lists (Lucene's .pos layout) decoded on the " +
      "probe's read path, adjacency as one (doc, pos) equi-join; hash " +
      "match vs the from-documents positional self-join proves the " +
      "positional decode is lossless at every position")

  /** q264 — index SEGMENT MERGE (X109d): the compaction step a real
    * postings store runs — new documents build a small DELTA segment
    * ([[postingStore]] over the doc_id % 5 == 4 slice), a background
    * merge ([[graft.operators.PostingBlocks.merge]]) folds it into the
    * BASE (the other four fifths): every (term, bucket) both sides hold
    * decodes, unions the interleaved doc ids and RE-ENCODES; a key held
    * by one side passes through undecoded. Gap coding has
    * no layout freedom, so merged ≡ built-from-scratch BYTE FOR BYTE
    * — the maintained ≡ rebuilt law in its strongest form, which this
    * query gates by replaying the FULL-corpus build in DuckDB (q258's
    * oracle, verbatim) against the engine's MERGED bytes: the oracle
    * never sees the segments, so any posting the merge drops,
    * duplicates or mis-orders breaks the stream hash.
    *
    * Scale: the merge is one shuffle on the compact (term, bucket)
    * key with ≤ 2 blocks of ≤ bucketWidth postings per key —
    * corpus-independent per-key work (the q91 sharding argument);
    * payload bytes move at block grain only. */
  val q264 = Q(
    "q264_segment_merge",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val base = postingStore(docs.filter($"doc_id" % 5 =!= 4))
      val delta = postingStore(docs.filter($"doc_id" % 5 === 4))
      graft.operators.PostingBlocks.merge(Seq(base, delta))
        .as[(String, Long, Int, Array[Byte])]
        .map { case (term, bucket, df, bytes) =>
          val ok = graft.operators.PostingCodec.decode(bytes, df).isDefined
          val h = bytes.foldLeft(0L)((a, b) =>
            (a * 31 + (b & 0xff)) % 1000000007L)
          (term, bucket, df.toLong, bytes.length.toLong, h,
            if (ok) 1L else 0L)
        }
        .toDF("term", "bucket", "df", "n_bytes", "stream_hash",
          "decode_ok")
        .orderBy($"term", $"bucket")
    },
    q258.oracle, // the FULL-corpus replay: merged must equal rebuilt
    doc = "X109d: index segment merge — base + delta compressed posting " +
      "segments decoded, unioned and re-encoded per (term, bucket); gap " +
      "coding has no layout freedom, so merged == from-scratch build " +
      "byte for byte, gated by q258's full-corpus oracle which never " +
      "sees the segments")

  /** q266 — NEAR/k proximity search (X109e, r15): the IR query family's
    * last member — after exact term (q259), phrase adjacency (q263)
    * and ranked serving (q265), NEAR asks "both terms within k
    * positions, in order" ('table' then 'scan' with ≤ 2 intervening
    * tokens). Same positional compressed store as q263, decoded on the
    * probe's read path; the proximity predicate `p1 < p2 ≤ p1 + k+1`
    * is an INEQUALITY, so the join is BANDED (the q11/q15 device
    * applied to positions): both sides key on doc_id and the position
    * band floor(pos / (k+1)), the left side probes its own band AND
    * the next one (any window of width k+1 spans ≤ 2 bands), the exact
    * range predicate verifies inside the bounded candidate set — no
    * position ever compares against more than two bands' worth of the
    * other term. The oracle runs the direct inequality self-join from
    * `documents`, so the hash match proves band-generate + verify
    * loses nothing.
    *
    * Scale: q263's posture; candidates per left position are the
    * other term's occupancy of ≤ 2 position bands within one doc —
    * doc-length-bounded, never corpus-shaped. */
  val q266 = Q(
    "q266_near_search",
    (s, dir) => {
      import s.implicits._
      val k = 2 // ≤ k intervening tokens: 0 < p2 - p1 <= k + 1
      val store = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select($"doc_id", ($"pos" + 1).cast("long").as("pos"),
          $"col".as("term"))
        .filter($"term".isin("table", "scan"))
        .groupBy($"term", $"doc_id")
        .agg(sort_array(collect_list($"pos")).as("ps"))
        .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(struct($"doc_id", $"ps")))
          .as("block"))
        .as[(String, Long, Seq[(Long, Seq[Long])])]
        .map { case (t, b, blk) =>
          (t, b, blk.size,
            graft.operators.PostingCodec.encodePositional(blk))
        }.toDF("term", "bucket", "df", "bytes")
      val decoded = store
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, _, df, bytes) =>
          graft.operators.PostingCodec.decodePositional(bytes, df)
            .getOrElse(throw new IllegalStateException(
              s"q266: corrupt positional block for term '$t'"))
            .flatMap { case (doc, ps) => ps.map(p => (t, doc, p)) }
        }.toDF("term", "doc_id", "pos")
      // banded inequality join: band width k+1, left probes 2 bands;
      // the right side's band is unique, so every qualifying (p1, p2)
      // pair joins exactly once — no dedup needed
      val w = k + 1
      val t1 = decoded.filter($"term" === "table")
        .select($"doc_id", $"pos".as("p1"),
          explode(array(expr(s"pos div $w"), expr(s"pos div $w") + 1))
            .as("band"))
      val t2 = decoded.filter($"term" === "scan")
        .select($"doc_id", $"pos".as("p2"), expr(s"pos div $w").as("band"))
      t1.join(t2, Seq("doc_id", "band"))
        .filter($"p2" > $"p1" && $"p2" <= $"p1" + w)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_near"), min($"p1").as("first_hit"),
          min($"p2" - $"p1" - 1).as("min_gap"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h1 AS (SELECT doc_id, pos FROM t WHERE term = 'table'),
      h2 AS (SELECT doc_id, pos FROM t WHERE term = 'scan')
      SELECT h1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_near,
             CAST(MIN(h1.pos) AS BIGINT) AS first_hit,
             CAST(MIN(h2.pos - h1.pos - 1) AS BIGINT) AS min_gap
      FROM h1 JOIN h2 ON h1.doc_id = h2.doc_id
        AND h2.pos > h1.pos AND h2.pos <= h1.pos + 3
      GROUP BY h1.doc_id ORDER BY h1.doc_id"""),
    doc = "X109e: NEAR/k proximity through the positional compressed " +
      "store — the inequality predicate runs as a BANDED position join " +
      "(width k+1 bands, left probes 2 bands, exact verify inside the " +
      "bounded candidates); hash match vs the direct inequality " +
      "self-join proves band-generate + verify is lossless")

  /** q268 — front-coded term dictionary (X111, r15): the OTHER
    * compressed half of the index. q258/q263 compress the posting
    * lists, but the term dictionary itself — the sorted string table
    * every probe binary-searches first — ships uncompressed.
    * Production indexes front-code it (Lucene's terms blocks, Managing
    * Gigabytes §4.1): the dictionary sorts, cuts into 16-term blocks,
    * and each term stores varint(lcp with the previous term) ·
    * varint(suffix_len) · suffix bytes, the block's first term restart-
    * coded in full. The oracle replays every block's byte stream from
    * a window replay of the same front coding (LCP as a prefix-
    * indicator sum — prefix equality is monotone, so the sum IS the
    * LCP) and hashes it byte for byte; decode_ok pins the strict
    * engine-side roundtrip ([[graft.operators.TermDictionary]] rejects
    * truncation, trailing bytes, non-canonical varints and non-minimal
    * lcp).
    *
    * Scale: the global ordinal comes from [[graft.operators.PrefixScan]]
    * (one data shuffle, never a corpus-sized single-partition window —
    * the q25 lesson applied to the vocabulary axis); blocks are
    * 16-term bounded, so encode is a constant-size map per block and a
    * lookup decodes exactly one block. Engine-side requires pin the
    * oracle's domain (ASCII < 128, the ord()-replay bound) where a
    * violation would otherwise surface as an unexplained hash
    * mismatch. */
  val q268 = Q(
    "q268_frontcoded_dict",
    (s, dir) => {
      import s.implicits._
      val vocab = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term")).distinct()
        .withColumn("w", lit(1L))
      val ranked = graft.operators.PrefixScan.inclusive(
        vocab, Nil, "term", Nil, "w",
        c => ascii(c) * 256 + ascii(substring(c, 2, 1)), "rank")
      ranked
        .select($"term", expr("(rank - 1) DIV 16").as("block"))
        .groupBy($"block")
        .agg(sort_array(collect_list($"term")).as("terms"))
        .as[(Long, Seq[String])]
        .map { case (b, ts) =>
          require(ts.forall(t => t.nonEmpty && t.forall(_ < 128)),
            "q268: dictionary is byte-coded ASCII (the oracle replays " +
              "ord() per char)")
          val bytes = graft.operators.TermDictionary.encode(ts)
          val ok = graft.operators.TermDictionary.decode(bytes, ts.size)
            .contains(ts)
          val h = bytes.foldLeft(0L)((a, x) =>
            (a * 31 + (x & 0xff)) % 1000000007L)
          (b, ts.size.toLong, ts.head, bytes.length.toLong, h,
            if (ok) 1L else 0L)
        }
        .toDF("block", "n_terms", "first_term", "n_bytes", "stream_hash",
          "decode_ok")
        .orderBy($"block")
    },
    Some("""
      WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                 FROM documents),
      r AS (SELECT term, row_number() OVER (ORDER BY term) - 1 AS rnk
            FROM v),
      p AS (SELECT term, rnk, rnk // 16 AS block,
              lag(term) OVER (PARTITION BY rnk // 16 ORDER BY term)
                AS prev
            FROM r),
      l AS (SELECT block, term, rnk,
              CASE WHEN prev IS NULL THEN 0 ELSE coalesce(list_sum(
                list_transform(range(1, least(len(term), len(prev)) + 1),
                  i -> CASE WHEN substr(term, 1, CAST(i AS INT)) =
                            substr(prev, 1, CAST(i AS INT))
                       THEN 1 ELSE 0 END)), 0)
              END AS lcp
            FROM p),
      e AS (SELECT block, rnk, term,
              list_concat(
                [CAST(lcp AS BIGINT), CAST(len(term) - lcp AS BIGINT)],
                list_transform(
                  range(CAST(lcp + 1 AS BIGINT),
                        CAST(len(term) + 1 AS BIGINT)),
                  i -> CAST(ord(substr(term, CAST(i AS INT), 1))
                       AS BIGINT))) AS bs
            FROM l),
      b AS (SELECT block, CAST(COUNT(*) AS BIGINT) AS n_terms,
              MIN(term) AS first_term,
              flatten(list(bs ORDER BY rnk)) AS bytes
            FROM e GROUP BY block)
      SELECT CAST(block AS BIGINT) AS block, n_terms, first_term,
             CAST(len(bytes) AS BIGINT) AS n_bytes,
             CAST(list_reduce(bytes, (h, x) -> (h * 31 + x) % 1000000007)
               AS BIGINT) AS stream_hash,
             CAST(1 AS BIGINT) AS decode_ok
      FROM b ORDER BY block"""),
    doc = "X111: front-coded term dictionary — sorted vocabulary in " +
      "16-term restart blocks, each term as varint(lcp)+varint(suffix) " +
      "(Lucene terms blocks / Managing Gigabytes front coding); oracle " +
      "replays the byte stream via a window LCP replay and hashes it; " +
      "decode_ok pins the strict roundtrip")

  /** q270 — term lookup SERVED through the front-coded dictionary
    * (X111b, r15): the read path q268 left unexercised — the thing a
    * query parser actually runs is "resolve this term to its ordinal",
    * and with a front-coded dictionary that means: pick the candidate
    * block from METADATA alone (the greatest first_term ≤ probe — the
    * binary-search step, here a metadata argmax), decode ONLY that
    * block (16 terms), and scan it. The dictionary survives only as
    * the LEB128+suffix byte streams; the oracle computes each probe's
    * global ordinal straight from the raw vocabulary (row_number over
    * the sorted distinct terms — the dictionary never enters it), so
    * the hash match proves block-pick + strict decode + in-block scan
    * reproduce the uncompressed lookup exactly. Probes cover all
    * three paths: present terms, an absent term that lands INSIDE a
    * candidate block, and an absent term BELOW the whole dictionary
    * (no candidate block at all).
    *
    * Scale: the block pick is an argmax over block METADATA
    * (vocabulary/16 rows — the in-memory terms-index every IR engine
    * keeps); exactly one block decodes per probe, 16 terms; nothing
    * corpus-sized moves at probe time. The dictionary build is q268's
    * ingest cost, amortized. */
  val q270 = Q(
    "q270_dict_lookup",
    (s, dir) => {
      import s.implicits._
      val probeTerms = Seq("merge", "stream", "query", "qqq_absent",
        "!below_all")
      // ---- ingest: the q268 front-coded store (bytes only)
      val dict = dictStore(Tables(s, dir, "documents"))
      // ---- probe: block pick from metadata, decode ONE block, scan
      val probes = probeTerms.toDF("pterm")
      val best = probes.join(
          broadcast(dict.select($"block", $"first_term")),
          $"first_term" <= $"pterm", "left")
        .groupBy($"pterm")
        .agg(max(struct($"first_term", $"block")).as("c"))
        .select($"pterm", $"c.block".as("block"))
      val hits = best.filter($"block".isNotNull)
        .join(dict, Seq("block"))
        .select($"pterm", $"block", $"n_terms", $"bytes")
        .as[(String, Long, Long, Array[Byte])]
        .map { case (p, b, n, bytes) =>
          val ts = graft.operators.TermDictionary.decode(bytes, n.toInt)
            .getOrElse(throw new IllegalStateException(
              s"q270: corrupt dictionary block $b"))
          val i = ts.indexOf(p)
          if (i >= 0) (p, 1L, b, b * 16 + i) else (p, 0L, -1L, -1L)
        }
        .toDF("term", "found", "block", "ordinal")
      val misses = best.filter($"block".isNull)
        .select($"pterm".as("term"), lit(0L).as("found"),
          lit(-1L).as("block"), lit(-1L).as("ordinal"))
      hits.unionByName(misses).orderBy($"term")
    },
    Some("""
      WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                 FROM documents),
      r AS (SELECT term, row_number() OVER (ORDER BY term) - 1 AS ord
            FROM v),
      p AS (SELECT unnest(['merge', 'stream', 'query', 'qqq_absent',
                           '!below_all']) AS pterm)
      SELECT pterm AS term,
        CAST(CASE WHEN ord IS NULL THEN 0 ELSE 1 END AS BIGINT) AS found,
        CAST(COALESCE(ord // 16, -1) AS BIGINT) AS block,
        CAST(COALESCE(ord, -1) AS BIGINT) AS ordinal
      FROM p LEFT JOIN r ON r.term = p.pterm
      ORDER BY term"""),
    doc = "X111b: term lookup through the front-coded dictionary — " +
      "candidate block from metadata alone (greatest first_term ≤ " +
      "probe), ONE 16-term block decoded per probe, in-block scan; " +
      "hash match vs the raw-vocabulary ordinal proves the compressed " +
      "read path is lossless; absent-in-block and below-all-blocks " +
      "miss paths both pinned")

  /** q271 — best-passage extraction through the positional index
    * (X109f, r15): the RAG chunking step that runs AFTER retrieval —
    * given the documents a query matched, return the width-W token
    * window holding the most query-term occurrences (the passage a
    * generator actually gets as context; Lucene's highlighter /
    * passage scorer runs exactly this over its .pos data). Windows are
    * HIT-ANCHORED (a maximal window can always be shifted to start at
    * a hit, so only hit positions are candidate starts — both engines
    * implement this same declared semantics), tiebreak smallest start.
    *
    * The positions come off the q263 positional compressed store
    * (decode-on-probe, canonical-strict); the window count is the
    * q266 BANDED position join: both sides key on (doc_id,
    * pos DIV W), a start probes its own band and the next (a width-W
    * window spans ≤ 2 bands — losslessness is arithmetic), exact
    * range verify inside the bounded candidates; per-doc argmax is
    * one max(struct) aggregate. The oracle replays the whole thing
    * from raw documents with a direct inequality self-join — a hash
    * match proves positional decode + band-generate + verify + argmax
    * reproduce it exactly.
    *
    * Scale: probe touches only the query terms' blocks; candidates
    * per start are one doc's hits in ≤ 2 width-W bands (doc-length
    * bounded, never corpus-shaped); the argmax is a per-doc
    * aggregate; top-30 is a TakeOrdered reduction. */
  val q271 = Q(
    "q271_best_passage",
    (s, dir) => {
      import s.implicits._
      val qTerms = Seq("table", "scan", "filter")
      val W = 20L
      val store = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select($"doc_id", ($"pos" + 1).cast("long").as("pos"),
          $"col".as("term"))
        .groupBy($"term", $"doc_id")
        .agg(sort_array(collect_list($"pos")).as("ps"))
        .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(struct($"doc_id", $"ps")))
          .as("block"))
        .as[(String, Long, Seq[(Long, Seq[Long])])]
        .map { case (t, b, blk) =>
          (t, b, blk.size,
            graft.operators.PostingCodec.encodePositional(blk))
        }.toDF("term", "bucket", "df", "bytes")
      val hits = store.filter($"term".isin(qTerms: _*))
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, _, df, bytes) =>
          graft.operators.PostingCodec.decodePositional(bytes, df)
            .getOrElse(throw new IllegalStateException(
              s"q271: corrupt positional block for term '$t'"))
            .flatMap { case (doc, ps) => ps.map(p => (doc, p)) }
        }.toDF("doc_id", "pos")
      // banded window join: starts probe their own band and the next
      val starts = hits
        .select($"doc_id", $"pos".as("start"),
          explode(array(($"pos" / W).cast("long"),
            ($"pos" / W).cast("long") + 1)).as("band"))
      val members = hits
        .select($"doc_id", $"pos", ($"pos" / W).cast("long").as("band"))
      val counted = starts.join(members, Seq("doc_id", "band"))
        .filter($"pos" >= $"start" && $"pos" < $"start" + W)
        .groupBy($"doc_id", $"start")
        .agg(count(lit(1)).as("n_hits"))
      counted
        .groupBy($"doc_id")
        .agg(max(struct($"n_hits", (-$"start").as("neg_start"))).as("b"))
        .select($"doc_id", (-$"b.neg_start").as("win_start"),
          $"b.n_hits".as("n_hits"))
        .orderBy($"n_hits".desc, $"doc_id")
        .limit(30)
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM t
            WHERE term IN ('table', 'scan', 'filter')),
      w AS (SELECT h1.doc_id, h1.pos AS start,
              CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM h h1 JOIN h h2 ON h1.doc_id = h2.doc_id
              AND h2.pos >= h1.pos AND h2.pos < h1.pos + 20
            GROUP BY h1.doc_id, h1.pos),
      b AS (SELECT doc_id, start AS win_start, n_hits,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY n_hits DESC, start ASC) AS rn
            FROM w)
      SELECT doc_id, win_start, n_hits FROM b WHERE rn = 1
      ORDER BY n_hits DESC, doc_id LIMIT 30"""),
    doc = "X109f: best-passage extraction — hit-anchored width-20 window " +
      "with the most query-term occurrences per doc, positions decoded " +
      "from the q263 positional compressed store, window count via the " +
      "q266 banded position join, per-doc max(struct) argmax; hash match " +
      "vs the direct inequality self-join from raw documents")

  /** q274 — postings takedown: block-local delete from the compressed
    * store (X109g, r15): the DELETE member the q258/q264/T31
    * append-then-compact family was missing — the right-to-be-
    * forgotten event (q233/q234/q245's reaper family) applied to the
    * TEXT index's storage layer. Dead docs bucket by doc_id div 100,
    * so the surgery touches exactly their buckets' blocks: each
    * decodes (strict), drops the dead postings, re-encodes; an
    * emptied block vanishes; every other block passes through
    * byte-UNTOUCHED (no decode — [[graft.operators.PostingBlocks.drop]];
    * PostingsTakedownSpec pins this at the object level). Gap coding
    * has no layout freedom, so the maintained store equals a from-scratch build over the SURVIVING
    * corpus byte for byte — and the oracle replays exactly that
    * from-scratch build (q258's 4-tier varint expansion over
    * `WHERE doc_id % 7 <> 3`; the takedown never enters the oracle).
    *
    * Scale: the dead set groups to bucket-keyed arrays (fan-in ≤
    * bucket width); the store join is an equi-join on the compact
    * bucket key with no forced broadcast (AQE decides — the r14
    * ClusterTakedown lesson); re-encode cost = touched blocks only,
    * never corpus-shaped. */
  val q274 = Q(
    "q274_postings_takedown",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val store = postingStore(docs)
      val dead = docs.filter($"doc_id" % 7 === 3).select($"doc_id")
      graft.operators.PostingBlocks.drop(store, dead)
        .as[(String, Long, Int, Array[Byte])]
        .map { case (term, bucket, df, bytes) =>
          val ok = graft.operators.PostingCodec.decode(bytes, df).isDefined
          val h = bytes.foldLeft(0L)((a, x) =>
            (a * 31 + (x & 0xff)) % 1000000007L)
          (term, bucket, df.toLong, bytes.length.toLong, h,
            if (ok) 1L else 0L)
        }
        .toDF("term", "bucket", "df", "n_bytes", "stream_hash",
          "decode_ok")
        .orderBy($"term", $"bucket")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents WHERE doc_id % 7 <> 3)),
      d AS (SELECT term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t GROUP BY term, doc_id),
      g AS (SELECT term, CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
              list(CAST(doc_id AS BIGINT) ORDER BY doc_id) AS ds,
              list(CAST(tf AS BIGINT) ORDER BY doc_id) AS tfs,
              list(CAST(first_pos AS BIGINT) ORDER BY doc_id) AS fps
            FROM d GROUP BY term, bucket),
      v AS (SELECT term, bucket, len(ds) AS df,
              list_concat([ds[1]],
                flatten(list_transform(range(1, len(ds) + 1), i ->
                  CASE WHEN i = 1 THEN [tfs[1], fps[1]]
                       ELSE [ds[i] - ds[i - 1], tfs[i], fps[i]] END)))
                AS vals
            FROM g),
      b AS (SELECT term, bucket, df,
              flatten(list_transform(vals, x -> CASE
                WHEN x < 128 THEN [x]
                WHEN x < 16384 THEN [x % 128 + 128, x // 128]
                WHEN x < 2097152 THEN
                  [x % 128 + 128, (x // 128) % 128 + 128, x // 16384]
                ELSE [x % 128 + 128, (x // 128) % 128 + 128,
                      (x // 16384) % 128 + 128, x // 2097152] END))
                AS bytes
            FROM v)
      SELECT term, bucket, CAST(df AS BIGINT) AS df,
             CAST(len(bytes) AS BIGINT) AS n_bytes,
             CAST(list_reduce(bytes, (h, x) -> (h * 31 + x) % 1000000007)
               AS BIGINT) AS stream_hash,
             CAST(1 AS BIGINT) AS decode_ok
      FROM b ORDER BY term, bucket"""),
    doc = "X109g: postings takedown — block-local delete from the " +
      "compressed store (dead buckets' blocks decode, drop, re-encode; " +
      "emptied blocks vanish; untouched blocks pass through byte-" +
      "identical); maintained == from-scratch build over the survivors " +
      "byte for byte, gated by q258's oracle over the filtered corpus")

  /** q275 — Boolean search through the compressed index (X109h, r15):
    * the query-language layer over the IR family — after ranked (q259/
    * q265/q267), phrase (q263), NEAR (q266) and passage (q271), the
    * remaining classic is BOOLEAN set semantics: `(spark AND window)
    * OR dup, AND NOT merge`. Each operator maps to the distributed
    * set-algebra primitive a doc-id join IS: AND = inner equi-join,
    * OR = distinct union, NOT = left-anti join — all on the compact
    * doc_id key, all decoded on the probe's read path from the q258
    * byte streams (only the four query terms' blocks). The oracle
    * computes the same boolean sets straight from raw documents, so
    * the hash match proves the decoded sets are exact.
    *
    * Scale: probe = query-term blocks only; every boolean operator is
    * an equi/anti join or distinct on doc_id over Σ df(query terms)
    * rows — never corpus-sized; no inequality, no window. Indicator
    * columns in the output pin WHICH branch admitted each doc. */
  val q275 = Q(
    "q275_boolean_search",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val store = postingStore(docs)
        .filter($"term".isin("spark", "window", "dup", "merge"))
      val decoded = store.as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, b, n, bytes) =>
          graft.operators.PostingCodec.decode(bytes, n)
            .getOrElse(throw new IllegalStateException(
              s"q275: corrupt postings block '$t'/$b"))
            .map { case (doc, _, _) => (t, doc) }
        }.toDF("term", "doc_id")
      def docsOf(t: String) =
        decoded.filter($"term" === t).select($"doc_id")
      val ab = docsOf("spark").join(docsOf("window"), Seq("doc_id"))
      val abc = ab.withColumn("in_ab", lit(1L))
        .join(docsOf("dup").withColumn("in_c", lit(1L)),
          Seq("doc_id"), "full_outer")
        .select($"doc_id",
          coalesce($"in_ab", lit(0L)).as("in_ab"),
          coalesce($"in_c", lit(0L)).as("in_c"))
      abc.join(docsOf("merge"), Seq("doc_id"), "left_anti")
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT DISTINCT doc_id,
                   unnest(string_split(text, ' ')) AS term
                 FROM documents),
      a AS (SELECT doc_id FROM t WHERE term = 'spark'),
      b AS (SELECT doc_id FROM t WHERE term = 'window'),
      c AS (SELECT doc_id FROM t WHERE term = 'dup'),
      d AS (SELECT doc_id FROM t WHERE term = 'merge'),
      ab AS (SELECT doc_id, CAST(1 AS BIGINT) AS in_ab
             FROM a JOIN b USING (doc_id)),
      cc AS (SELECT doc_id, CAST(1 AS BIGINT) AS in_c FROM c),
      abc AS (SELECT doc_id,
          COALESCE(in_ab, 0) AS in_ab, COALESCE(in_c, 0) AS in_c
        FROM ab FULL JOIN cc USING (doc_id))
      SELECT doc_id, in_ab, in_c FROM abc
      WHERE doc_id NOT IN (SELECT doc_id FROM d)
      ORDER BY doc_id"""),
    doc = "X109h: Boolean search — (spark AND window) OR dup, AND NOT " +
      "merge, as distributed set algebra over decoded posting sets " +
      "(AND = equi-join, OR = full-outer indicators, NOT = anti-join, " +
      "all on the compact doc_id key); hash match vs the raw-text sets")

  /** q277 — prefix search through the front-coded dictionary (X111c,
    * r15): the autocomplete/wildcard primitive ("s*") — and the query
    * class front coding seems built to obstruct, since most terms in
    * a block don't even STORE their first letter. The block range
    * structure answers it from metadata: sorted blocks cover
    * [first_term_i, first_term_{i+1}), so the candidate set is the
    * blocks whose range intersects [p, p·MAX] — computed with one
    * lead() over the vocabulary/16-row metadata frame (the sanctioned
    * metadata-window class, PrefixScan's own device) — and ONLY those
    * blocks decode; the lcp chain reconstructs every term in full, so
    * the prefix filter runs on decoded terms. The oracle computes the
    * same prefix scan from the raw vocabulary (the dictionary never
    * enters it); ordinals must agree, which also pins that decode
    * preserves in-block ORDER, not just membership.
    *
    * Scale: metadata window over vocab/16 rows; decode cost =
    * intersecting blocks only (for a selective prefix: 1–2 blocks);
    * nothing corpus-sized at probe time. */
  val q277 = Q(
    "q277_dict_prefix_search",
    (s, dir) => {
      import s.implicits._
      val p = "s"
      val dict = dictStore(Tables(s, dir, "documents"))
      // candidate blocks from metadata alone: range [first, next_first)
      dictPrefixBlocks(dict, p).select($"block", $"n_terms", $"bytes")
        .as[(Long, Long, Array[Byte])]
        .flatMap { case (b, n, bytes) =>
          graft.operators.TermDictionary.decode(bytes, n.toInt)
            .getOrElse(throw new IllegalStateException(
              s"q277: corrupt dictionary block $b"))
            .zipWithIndex
            .collect { case (t, i) if t.startsWith(p) =>
              (t, b, b * 16 + i) }
        }
        .toDF("term", "block", "ordinal")
        .orderBy($"term")
    },
    Some("""
      WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                 FROM documents),
      r AS (SELECT term, row_number() OVER (ORDER BY term) - 1 AS ord
            FROM v)
      SELECT term, CAST(ord // 16 AS BIGINT) AS block,
             CAST(ord AS BIGINT) AS ordinal
      FROM r WHERE term LIKE 's%'
      ORDER BY term"""),
    doc = "X111c: prefix search ('s*') through the front-coded dictionary " +
      "— candidate blocks from the metadata range structure (one lead() " +
      "over vocab/16 rows), only intersecting blocks decode, lcp chains " +
      "reconstruct full terms for the prefix filter; ordinal agreement " +
      "also pins decode preserves in-block order")

  /** q278 — index-only corpus statistics (X114b, r15): the covering-
    * index property — df, posting counts and block occupancy are
    * answerable from block METADATA alone, with ZERO decode (the
    * `select count(*)`-class queries a corpus dashboard runs; serving
    * them off metadata is why engines keep it). For the ten most
    * document-frequent terms: df = Σ per-block df (blocks partition
    * docs), block count, and max per-block occupancy. The oracle
    * computes the same statistics from raw text; the engine never
    * opens a byte stream — the bytes column is built and then
    * provably ignored.
    *
    * Scale: one metadata aggregate over (term, bucket) rows —
    * vocabulary × buckets-sized, never corpus-token-sized; the top-10
    * is a TakeOrdered reduction. */
  val q278 = Q(
    "q278_index_only_stats",
    (s, dir) => {
      import s.implicits._
      postingStore(Tables(s, dir, "documents"))
        .groupBy($"term")
        .agg(sum($"df").cast("long").as("df"),
          count(lit(1)).as("n_blocks"),
          max($"df").cast("long").as("max_block_df"))
        .orderBy($"df".desc, $"term")
        .limit(10)
    },
    Some("""
      WITH t AS (SELECT DISTINCT doc_id,
                   unnest(string_split(text, ' ')) AS term
                 FROM documents),
      g AS (SELECT term, CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS bdf
            FROM t GROUP BY term, bucket)
      SELECT term, CAST(SUM(bdf) AS BIGINT) AS df,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(MAX(bdf) AS BIGINT) AS max_block_df
      FROM g GROUP BY term
      ORDER BY df DESC, term LIMIT 10"""),
    doc = "X114b: index-only statistics — df, block count and max block " +
      "occupancy for the top-10 terms from block METADATA alone, zero " +
      "decode (the covering-index property); oracle recomputes from raw " +
      "text")

  /** q281 — Frame-of-Reference bit-packed postings (X109i, r15): the
    * storage tier ABOVE q258's varints. LEB128 spends a whole byte
    * per small value; production engines pack each block's values at
    * a FIXED bit width sized to the block's maximum (Lucene's
    * FOR/PackedInts, the PForDelta ancestry) — and doc-aligned
    * blocking pays twice, because a ≤100-doc block's gaps are not
    * just small but UNIFORMLY small, so they pack at ~7 bits, not 8.
    * Layout per block: varint(first doc) · varint(n) · per section
    * (gaps, tfs, first_pos) one width byte + LSB-first packed values
    * zero-padded to a byte. The oracle replays the ENTIRE bit stream
    * — bit lengths via len(bin(x)) (pure string ops, no float log),
    * per-value LSB-first bit lists, zero padding, byte folding — and
    * hashes it byte for byte; it also emits the q258 LEB128 byte
    * count for the same block, so the hash-gated output CONTAINS the
    * measured compression win. [[graft.operators.ForCodec]] decode is
    * canonical-strict (non-minimal widths, set padding bits,
    * non-canonical varints, trailing bytes all reject — ForCodecSpec
    * pins a hand-packed block and the rejection matrix).
    *
    * Scale: q258's posture — a per-block map over already-blocked
    * rows, no new shuffle; decode is the dataloader's read path. */
  val q281 = Q(
    "q281_for_packed_postings",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("term"))
        .groupBy($"term", $"doc_id")
        .agg(count(lit(1)).as("tf"), min($"pos").as("first_pos"))
        .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(
          struct($"doc_id", $"tf", $"first_pos"))).as("ps"))
        .as[(String, Long, Seq[(Long, Long, Long)])]
        .map { case (term, bucket, ps) =>
          require(ps.head._1 < (1L << 28) &&
            ps.forall(p => p._2 < (1L << 28) && p._3 < (1L << 28)),
            "q281: value exceeds the oracle's 4-tier varint bound")
          val bytes = graft.operators.ForCodec.encode(ps)
          val ok = graft.operators.ForCodec.decode(bytes, ps.size)
            .contains(ps)
          val leb = graft.operators.PostingCodec.encode(ps).length
          val h = bytes.foldLeft(0L)((a, x) =>
            (a * 31 + (x & 0xff)) % 1000000007L)
          (term, bucket, ps.size.toLong, bytes.length.toLong, h,
            leb.toLong, if (ok) 1L else 0L)
        }
        .toDF("term", "bucket", "df", "n_bytes", "stream_hash",
          "n_bytes_leb", "decode_ok")
        .orderBy($"term", $"bucket")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      d AS (SELECT term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t GROUP BY term, doc_id),
      g AS (SELECT term, CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
              list(CAST(doc_id AS BIGINT) ORDER BY doc_id) AS ds,
              list(CAST(tf AS BIGINT) ORDER BY doc_id) AS tfs,
              list(CAST(first_pos AS BIGINT) ORDER BY doc_id) AS fps
            FROM d GROUP BY term, bucket),
      w AS (SELECT term, bucket, ds, tfs, fps,
              list_transform(range(2, len(ds) + 1),
                i -> ds[i] - ds[i - 1]) AS gaps
            FROM g),
      ww AS (SELECT *,
              CASE WHEN len(gaps) = 0 THEN 1 ELSE
                list_max(list_transform(gaps, x -> len(bin(x)))) END AS wg,
              list_max(list_transform(tfs, x -> len(bin(x)))) AS wt,
              list_max(list_transform(fps, x -> len(bin(x)))) AS wp
            FROM w),
      pk AS (SELECT term, bucket, ds, tfs, fps, gaps, wg, wt, wp,
              flatten(list_transform(gaps, v ->
                list_transform(range(0, wg), b -> (v >> b) & 1))) AS gbits,
              flatten(list_transform(tfs, v ->
                list_transform(range(0, wt), b -> (v >> b) & 1))) AS tbits,
              flatten(list_transform(fps, v ->
                list_transform(range(0, wp), b -> (v >> b) & 1))) AS pbits
            FROM ww),
      pd AS (SELECT term, bucket, ds, tfs, fps, gaps, wg, wt, wp,
              list_concat(gbits, list_transform(
                range(0, (8 - len(gbits) % 8) % 8), x -> CAST(0 AS BIGINT)))
                AS gpad,
              list_concat(tbits, list_transform(
                range(0, (8 - len(tbits) % 8) % 8), x -> CAST(0 AS BIGINT)))
                AS tpad,
              list_concat(pbits, list_transform(
                range(0, (8 - len(pbits) % 8) % 8), x -> CAST(0 AS BIGINT)))
                AS ppad
            FROM pk),
      by AS (SELECT term, bucket, ds, tfs, fps, gaps, wg, wt, wp,
              list_transform(range(0, len(gpad) // 8), k ->
                CAST(list_sum(list_transform(range(0, 8), j ->
                  gpad[CAST(k * 8 + j + 1 AS INT)] << j)) AS BIGINT)) AS gbytes,
              list_transform(range(0, len(tpad) // 8), k ->
                CAST(list_sum(list_transform(range(0, 8), j ->
                  tpad[CAST(k * 8 + j + 1 AS INT)] << j)) AS BIGINT)) AS tbytes,
              list_transform(range(0, len(ppad) // 8), k ->
                CAST(list_sum(list_transform(range(0, 8), j ->
                  ppad[CAST(k * 8 + j + 1 AS INT)] << j)) AS BIGINT)) AS pbytes
            FROM pd),
      v AS (SELECT term, bucket, len(ds) AS df,
              list_concat(
                list_transform([ds[1]], x -> CASE
                  WHEN x < 128 THEN [x]
                  WHEN x < 16384 THEN [x % 128 + 128, x // 128]
                  WHEN x < 2097152 THEN
                    [x % 128 + 128, (x // 128) % 128 + 128, x // 16384]
                  ELSE [x % 128 + 128, (x // 128) % 128 + 128,
                        (x // 16384) % 128 + 128, x // 2097152] END)[1],
                list_concat([CAST(len(ds) AS BIGINT), CAST(wg AS BIGINT)],
                  list_concat(gbytes,
                    list_concat([CAST(wt AS BIGINT)],
                      list_concat(tbytes,
                        list_concat([CAST(wp AS BIGINT)], pbytes))))))
                AS bytes,
              list_sum(list_transform(
                list_concat(gaps, list_concat(tfs, fps)), x -> CASE
                  WHEN x < 128 THEN 1 WHEN x < 16384 THEN 2
                  WHEN x < 2097152 THEN 3 ELSE 4 END)) +
              CASE WHEN ds[1] < 128 THEN 1 WHEN ds[1] < 16384 THEN 2
                   WHEN ds[1] < 2097152 THEN 3 ELSE 4 END AS n_leb
            FROM by)
      SELECT term, bucket, CAST(df AS BIGINT) AS df,
             CAST(len(bytes) AS BIGINT) AS n_bytes,
             CAST(list_reduce(bytes, (h, x) -> (h * 31 + x) % 1000000007)
               AS BIGINT) AS stream_hash,
             CAST(n_leb AS BIGINT) AS n_bytes_leb,
             CAST(1 AS BIGINT) AS decode_ok
      FROM v ORDER BY term, bucket"""),
    doc = "X109i: Frame-of-Reference bit-packed postings — per section " +
      "one minimal width byte + LSB-first packed values (Lucene " +
      "FOR/PackedInts); the oracle replays bit lengths (len(bin(x)) — " +
      "no float log), packing, padding and byte folding, and the " +
      "hash-gated output carries the measured win over q258's LEB128")

  /** q282 — search SERVED through the FOR-packed postings (X109j,
    * r15): q281's read path — the q259 rule applied to the new
    * storage tier (a storage layer nothing probes is unproven). The
    * index survives ONLY as FOR bit-packed byte streams; the probe
    * filters to the query terms' blocks, UNPACKS the fixed-width
    * sections on the read path via the canonical-strict
    * [[graft.operators.ForCodec.decode]] (a set padding bit or
    * non-minimal width throws at the probe, never surfaces as a
    * silent ranking change), and ranks documents from the decoded
    * rows alone. The oracle computes the search straight from raw
    * documents — the hash match proves bit-unpacking-on-probe is
    * lossless.
    *
    * Scale: q259's posture — query-term blocks only, per-block
    * bounded decode, Σ df(query terms) aggregate rows. */
  val q282 = Q(
    "q282_for_postings_serve",
    (s, dir) => {
      import s.implicits._
      val qTerms = Seq("batch", "row", "scan", "group")
      val store = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("term"))
        .groupBy($"term", $"doc_id")
        .agg(count(lit(1)).as("tf"), min($"pos").as("first_pos"))
        .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(
          struct($"doc_id", $"tf", $"first_pos"))).as("ps"))
        .as[(String, Long, Seq[(Long, Long, Long)])]
        .map { case (term, bucket, ps) =>
          (term, bucket, ps.size, graft.operators.ForCodec.encode(ps))
        }.toDF("term", "bucket", "df", "bytes")
      store.filter($"term".isin(qTerms: _*))
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, b, n, bytes) =>
          graft.operators.ForCodec.decode(bytes, n)
            .getOrElse(throw new IllegalStateException(
              s"q282: corrupt FOR block '$t'/$b"))
            .map { case (doc, tf, fp) => (t, doc, tf, fp) }
        }.toDF("term", "doc_id", "tf", "first_pos")
        .groupBy($"doc_id")
        .agg(count_distinct($"term").as("n_terms"),
          sum($"tf").as("tf_sum"), min($"first_pos").as("first_hit"))
        .orderBy($"n_terms".desc, $"tf_sum".desc, $"doc_id")
        .limit(50)
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h AS (SELECT term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t WHERE term IN ('batch', 'row', 'scan', 'group')
            GROUP BY term, doc_id)
      SELECT doc_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
             CAST(SUM(tf) AS BIGINT) AS tf_sum,
             CAST(MIN(first_pos) AS BIGINT) AS first_hit
      FROM h GROUP BY doc_id
      ORDER BY n_terms DESC, tf_sum DESC, doc_id LIMIT 50"""),
    doc = "X109j: search served through the FOR-packed postings — the " +
      "store is bit-packed byte streams only, the probe unpacks fixed-" +
      "width sections on the read path (canonical-strict; corrupt " +
      "streams throw); hash match vs the from-documents oracle proves " +
      "bit-unpacking-on-probe is lossless")

  /** Character bigrams of `s` with the `$` boundary convention — the
    * k-gram index's gram function, shared by ingest and probe so the
    * two can never disagree on gram shape. */
  private def bigrams(s: String): Seq[String] =
    (0 until s.length - 1).map(i => s.substring(i, i + 2))

  /** q284 — WILDCARD term search through a k-gram index (X111d, r15):
    * the query class the dictionary family still lacked — `me*ge` —
    * and the classic IR answer (Manning/Raghavan/Schütze ch. 3.2.2):
    * index every vocabulary term under its character k-grams (k = 2,
    * `$`-bounded), answer a wildcard by intersecting the pattern's
    * gram posting lists, then POST-FILTER the candidates against the
    * actual pattern — gram containment is necessary, never sufficient
    * (the textbook `red*`→`retired` false positive, planted and pinned
    * in KGramSpec). Matched terms then probe the q258 compressed text
    * index through a JOIN (never an `isin` — the matched set is data,
    * not literals) and docs rank by distinct matched terms / tf mass,
    * each doc carrying its sorted matched-term list as provenance.
    * The oracle answers the same wildcard DIRECTLY (`LIKE 'me%ge'`
    * over the raw vocabulary — the gram index never enters it), so
    * the hash match proves gram-intersect + post-filter ≡ the direct
    * wildcard scan at all 3 SFs.
    *
    * Scale: the gram index is vocabulary-sized (Σ term length grams —
    * Heaps-bounded, not corpus-bounded); the probe touches only the
    * pattern's ≤4 gram posting lists; the LIKE post-filter runs on the
    * candidate set alone; the doc ranking decodes only matched terms'
    * blocks (q259's read path). */
  val q284 = Q(
    "q284_kgram_wildcard",
    (s, dir) => {
      import s.implicits._
      val (pre, suf) = ("me", "ge") // the wildcard pattern me*ge
      val patGrams = (bigrams("$" + pre) ++ bigrams(suf + "$")).distinct
      val docs = Tables(s, dir, "documents")
      val vocab = docs
        .select(explode(split($"text", " ")).as("term")).distinct()
      // ---- ingest: the k-gram index over the vocabulary
      val grams = vocab
        .select($"term", concat(lit("$"), $"term", lit("$")).as("p"))
        .select($"term", explode(expr(
          "transform(sequence(1, length(p) - 1), i -> substring(p, i, 2))"))
          .as("gram"))
        .distinct()
      // ---- probe: intersect the pattern's gram posting lists
      val cand = grams.filter($"gram".isin(patGrams: _*))
        .groupBy($"term").agg(count(lit(1)).as("ng"))
        .filter($"ng" === patGrams.size)
      // candidate-bounded post-filter — the step the false positive needs
      val matched = cand
        .filter($"term".like(s"$pre%$suf") &&
          length($"term") >= lit(pre.length + suf.length))
        .select($"term")
      // ---- doc ranking through the compressed index (decode-on-probe)
      val store = postingStore(docs)
      val decoded = store.join(matched, "term")
        .select($"term", $"bucket", $"df", $"bytes")
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, _, n, bytes) =>
          graft.operators.PostingCodec.decode(bytes, n)
            .getOrElse(throw new IllegalStateException(
              s"q284: corrupt postings block for term '$t'"))
            .map { case (doc, tf, _) => (t, doc, tf) }
        }.toDF("term", "doc_id", "tf")
      decoded.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"), sum($"tf").as("tf_sum"),
          concat_ws(",", sort_array(collect_list($"term"))).as("terms"))
        .orderBy($"n_terms".desc, $"tf_sum".desc, $"doc_id")
        .limit(30)
    },
    Some("""
      WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                 FROM documents),
      m AS (SELECT term FROM v
            WHERE term LIKE 'me%ge' AND len(term) >= 4),
      t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
      g AS (SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM t JOIN m USING (term) GROUP BY 1, 2)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(tf) AS BIGINT) AS tf_sum,
             string_agg(term, ',' ORDER BY term) AS terms
      FROM g GROUP BY doc_id
      ORDER BY n_terms DESC, tf_sum DESC, doc_id LIMIT 30"""),
    doc = "X111d: wildcard search me*ge through a $-bounded bigram index " +
      "— gram posting-list intersection, candidate-bounded LIKE " +
      "post-filter (gram containment is necessary, not sufficient), " +
      "matched terms probe the compressed index by join; the direct " +
      "LIKE-over-vocabulary oracle proves the k-gram route exact")

  /** q285 — FUZZY term resolution + spell-corrected search (N15b,
    * r15): the query-time half of fuzzy matching — a misspelled query
    * term must resolve to the vocabulary term it meant, WITHOUT a
    * vocabulary scan per probe. SymSpell's device (Garbe 2012, the
    * production spell-corrector shape): index every vocabulary term
    * under its single-deletion variants (plus itself); a probe
    * explodes into ITS deletion variants and equi-joins the index —
    * any Levenshtein-≤1 pair shares a variant, so the join is the
    * candidate generator and its output is candidate-bounded, never
    * vocabulary × probes. The join also admits distance-2 pairs
    * (`abc`/`bca` share variant `bc`), so an exact `levenshtein ≤ 1`
    * verify runs ON THE CANDIDATES — load-bearing, pinned in
    * KGramSpec. Resolution picks per probe the (lev ASC, corpus tf
    * DESC, term ASC) argmin — closest first, most frequent among
    * ties (the spell-corrector's language-model prior). Corrected
    * terms then probe the q258 index and each returns its top-5 docs
    * by tf via the bounded exact TopKLong aggregate (per-term map-side
    * k — never a df-sized window partition). The oracle resolves each
    * probe by brute force (vocabulary × 4 probes, DuckDB `levenshtein`
    * — the deliberately different decomposition) and replays the
    * ranking from raw text; hash-matched at all 3 SFs.
    *
    * Scale: the deletion index is Σ term-length rows over the
    * Heaps-bounded vocabulary, built once at ingest; probes are
    * constant-count; candidates per probe are the variants' bucket
    * occupants (SymSpell's whole point); the doc probe decodes only
    * the corrected terms' blocks. */
  val q285 = Q(
    "q285_fuzzy_resolve",
    (s, dir) => {
      import s.implicits._
      val probes = Seq("sparc", "stram", "querry", "window")
      val docs = Tables(s, dir, "documents")
      val tfTab = docs
        .select(explode(split($"text", " ")).as("term"))
        .groupBy($"term").agg(count(lit(1)).as("tf_total"))
      // ---- ingest: the deletion-variant index (term + its del1 set;
      // the identity entry carries exact matches and the ins/del
      // directions of the variant join)
      def delVariants(c: String) = expr(
        s"""array_union(array($c),
            transform(sequence(1, length($c)),
              i -> concat(substring($c, 1, i - 1),
                          substring($c, i + 1, length($c)))))""")
      val vocabIdx = tfTab
        .select($"term", $"tf_total", explode(delVariants("term")).as("v"))
      val probeIdx = probes.toDF("probe")
        .select($"probe", explode(delVariants("probe")).as("v"))
      // ---- candidate generation: shared-variant equi-join, then the
      // exact verify (the del-join admits distance-2 pairs)
      val cand = probeIdx.join(vocabIdx, "v")
        .select($"probe", $"term", $"tf_total").distinct()
        .withColumn("lev", levenshtein($"probe", $"term"))
        .filter($"lev" <= 1)
      // ---- resolution: closest, then most frequent, then spelling
      val resolved = cand
        .groupBy($"probe")
        .agg(min_by(struct($"term", $"lev", $"tf_total"),
          struct($"lev", -$"tf_total", $"term")).as("r"))
        .select($"probe", $"r.term".as("term"), $"r.lev".cast(LongType).as("lev"),
          $"r.tf_total".as("tf_total"))
      // ---- spell-corrected search: corrected terms probe the index,
      // top-5 docs per term via the bounded exact aggregate
      val store = postingStore(docs)
      val decoded = store.join(resolved.select($"term").distinct(), "term")
        .select($"term", $"bucket", $"df", $"bytes")
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, _, n, bytes) =>
          graft.operators.PostingCodec.decode(bytes, n)
            .getOrElse(throw new IllegalStateException(
              s"q285: corrupt postings block for term '$t'"))
            .map { case (doc, tf, _) => (t, doc, tf) }
        }.toDF("term", "doc_id", "tf")
      val top5 = udaf(new graft.functions.TopKLong(5))
      val perTerm = decoded.groupBy($"term")
        .agg(top5($"tf", $"doc_id", lit(0L)).as("tk"))
        .select($"term", explode($"tk").as("e"))
        .select($"term", $"e.id".as("doc_id"), $"e.score".as("tf"))
      resolved.join(perTerm, "term")
        .select($"probe", $"term", $"lev", $"tf_total", $"doc_id", $"tf")
        .orderBy($"probe", $"tf".desc, $"doc_id")
    },
    Some("""
      WITH tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf_total
                  FROM (SELECT unnest(string_split(text, ' ')) AS term
                        FROM documents) GROUP BY 1),
      p AS (SELECT unnest(['sparc', 'stram', 'querry', 'window']) AS probe),
      cand AS (SELECT probe, term, tf_total,
                 CAST(levenshtein(probe, term) AS BIGINT) AS lev
               FROM p CROSS JOIN tf
               WHERE levenshtein(probe, term) <= 1),
      res AS (SELECT probe, term, lev, tf_total FROM cand
              QUALIFY row_number() OVER (PARTITION BY probe
                ORDER BY lev, tf_total DESC, term) = 1),
      t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
      h AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tfd
            FROM t WHERE term IN (SELECT term FROM res) GROUP BY 1, 2),
      top5 AS (SELECT term, doc_id, tfd FROM h
               QUALIFY row_number() OVER (PARTITION BY term
                 ORDER BY tfd DESC, doc_id) <= 5)
      SELECT probe, res.term AS term, lev, tf_total, doc_id,
             tfd AS tf
      FROM res JOIN top5 ON res.term = top5.term
      ORDER BY probe, tf DESC, doc_id"""),
    doc = "N15b: SymSpell fuzzy term resolution — deletion-variant " +
      "equi-join candidate generation (never vocabulary × probes), " +
      "exact levenshtein<=1 verify on candidates (the del-join admits " +
      "distance-2 pairs), (lev, tf DESC, term) argmin resolution, then " +
      "spell-corrected top-5-docs search through the compressed index; " +
      "brute-force vocabulary-scan oracle proves the indexed route exact")

  /** q288 — consistent-hash INDEX RESHARD (X115b, r15): the
    * storage-growth operation the q283 sharded topology runs when a
    * node joins. q162 audits the ring's movement matrix; this DOES the
    * move on the index's storage layer via
    * [[graft.operators.IndexReshard]]: 3 ring-assigned shards grow to
    * 4, and the only work is block-local AND INDEX-ONLY — moved docs'
    * blocks on the old shards decode/SPLIT/re-encode (q274's surgery,
    * shard-keyed; emptied blocks vanish; unmoved blocks pass through
    * byte-untouched), and the new shard's blocks regroup from the
    * postings EXTRACTED in that same pass — raw documents are never
    * re-read. Consistent hashing guarantees movers go ONLY to
    * the new shard (IndexReshardSpec pins it, wrap-around included),
    * so ~1/(S+1) of the corpus rebuilds instead of the ~everything a
    * modulo reshard would force. Gap coding has no layout freedom ⇒
    * maintained ≡ from-scratch 4-ring build BYTE FOR BYTE — the
    * oracle replays exactly that build (q162's ring SQL + q258's
    * 4-tier varint expansion, shard-keyed; the surgery never enters
    * it), hash-matched at all 3 SFs.
    *
    * Scale: ring broadcast (S·16 rows); assignment is q162's as-of
    * device paid once; surgery cost = |movers' buckets| blocks + one
    * delta build — never corpus-shaped. */
  /** The stream-hash evidence map every reshard query emits over its
    * maintained store: (shard, term, bucket, df, n_bytes, stream_hash,
    * decode_ok) — shared by q288 (grow) and q295 (shrink). */
  private[queries] def storeEvidence(store: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    store
      .as[(Long, String, Long, Int, Array[Byte])]
      .map { case (shard, term, bucket, df, bytes) =>
        val ok = graft.operators.PostingCodec.decode(bytes, df).isDefined
        val h = bytes.foldLeft(0L)((a, x) =>
          (a * 31 + (x & 0xff)) % 1000000007L)
        (shard, term, bucket, df.toLong, bytes.length.toLong, h,
          if (ok) 1L else 0L)
      }
      .toDF("shard", "term", "bucket", "df", "n_bytes", "stream_hash",
        "decode_ok")
      .orderBy($"shard", $"term", $"bucket")
  }

  /** The from-scratch `shards`-ring build replay — q288/q295's oracle:
    * q162's ring SQL assigns every doc, then q258's 4-tier varint
    * expansion re-derives each block's byte stream and hashes it. The
    * SURGERY never enters this SQL, which is the whole point: the
    * engine's maintained store must hash-match a build that never saw
    * the old ring. */
  private[queries] def ringStoreOracleSql(shards: Int): String = s"""
      WITH r AS (${graft.queries.Mining.ringSql(shards, 16)}),
      w AS (SELECT shard FROM r ORDER BY pos, shard LIMIT 1),
      d0 AS (SELECT doc_id, text,
               CAST(('0x' || substr(md5('doc' || doc_id), 1, 15)) AS BIGINT)
                 AS p
             FROM documents),
      a AS (SELECT d0.doc_id, d0.text, COALESCE(
              (SELECT r.shard FROM r WHERE r.pos >= d0.p
               ORDER BY r.pos, r.shard LIMIT 1),
              (SELECT shard FROM w)) AS shard
            FROM d0),
      t AS (SELECT shard, doc_id, unnest(l) AS term,
              unnest(range(1, len(l) + 1)) AS pos
            FROM (SELECT shard, doc_id, string_split(text, ' ') AS l
                  FROM a)),
      d AS (SELECT shard, term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t GROUP BY 1, 2, 3),
      g AS (SELECT shard, term,
              CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
              list(CAST(doc_id AS BIGINT) ORDER BY doc_id) AS ds,
              list(CAST(tf AS BIGINT) ORDER BY doc_id) AS tfs,
              list(CAST(first_pos AS BIGINT) ORDER BY doc_id) AS fps
            FROM d GROUP BY shard, term, bucket),
      v AS (SELECT shard, term, bucket, len(ds) AS df,
              list_concat([ds[1]],
                flatten(list_transform(range(1, len(ds) + 1), i ->
                  CASE WHEN i = 1 THEN [tfs[1], fps[1]]
                       ELSE [ds[i] - ds[i - 1], tfs[i], fps[i]] END)))
                AS vals
            FROM g),
      b AS (SELECT shard, term, bucket, df,
              flatten(list_transform(vals, x -> CASE
                WHEN x < 128 THEN [x]
                WHEN x < 16384 THEN [x % 128 + 128, x // 128]
                WHEN x < 2097152 THEN
                  [x % 128 + 128, (x // 128) % 128 + 128, x // 16384]
                ELSE [x % 128 + 128, (x // 128) % 128 + 128,
                      (x // 16384) % 128 + 128, x // 2097152] END))
                AS bytes
            FROM v)
      SELECT CAST(shard AS BIGINT) AS shard, term, bucket,
             CAST(df AS BIGINT) AS df,
             CAST(len(bytes) AS BIGINT) AS n_bytes,
             CAST(list_reduce(bytes, (h, x) -> (h * 31 + x) % 1000000007)
               AS BIGINT) AS stream_hash,
             CAST(1 AS BIGINT) AS decode_ok
      FROM b ORDER BY shard, term, bucket"""

  val q288 = Q(
    "q288_index_reshard",
    (s, dir) => storeEvidence(
      graft.operators.IndexReshard
        .reshard(Tables(s, dir, "documents"), oldShards = 3).newStore),
    Some(ringStoreOracleSql(4)),
    doc = "X115b: consistent-hash index reshard 3→4, INDEX-ONLY — " +
      "ring-moved docs' blocks decode/split/re-encode on their old " +
      "shards, the new shard's blocks regroup from the extracted " +
      "postings (raw documents never re-read), unmoved blocks pass " +
      "through byte-untouched; maintained == from-scratch 4-ring " +
      "build byte for byte (the oracle replays that build; the " +
      "surgery never enters it)")

  /** q289 — TIERED posting storage, one read path (X109k, r15): the
    * hot/cold split every large index runs (Elasticsearch hot-warm,
    * Lucene's per-segment codec choice) applied to the q258/q281
    * codec pair: a HOT term's blocks — dense posting lists whose
    * uniformly small gaps are exactly where FOR bit-packing wins its
    * measured 0.56× (q281) — store in the FOR tier; the long-tail
    * COLD majority stays LEB128, where per-block width bytes wouldn't
    * repay themselves. The tier decision is data-derived and
    * deterministic (df·10 ≥ N off block metadata — both engines
    * compute it), the probe ROUTES per block to the matching strict
    * codec (a hot block through the cold decoder, or any corruption,
    * THROWS — never a silent ranking change), and the query terms
    * deliberately span both tiers so the oracle's hash gates BOTH
    * routes plus the n_hot/n_cold routing evidence per doc.
    *
    * Scale: tiering is one metadata join at ingest; the probe is
    * q259's posture (query-term blocks only, per-block bounded
    * decode); nothing about the split adds a shuffle. */
  val q289 = Q(
    "q289_tiered_postings",
    (s, dir) => {
      import s.implicits._
      val qTerms = Seq("spark", "window", "merge", "dup")
      val docs = Tables(s, dir, "documents")
      val blocks = docs
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("term"))
        .groupBy($"term", $"doc_id")
        .agg(count(lit(1)).as("tf"), min($"pos").as("first_pos"))
        .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(
          struct($"doc_id", $"tf", $"first_pos"))).as("ps"))
      // tier decision from block METADATA (blocks partition docs)
      val nDocs = docs.agg(count(lit(1)).cast(LongType).as("n_docs"))
      val dfreq = blocks
        .select($"term", size($"ps").cast(LongType).as("bdf"))
        .groupBy($"term").agg(sum($"bdf").as("df"))
      val tiered = blocks.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("hot", ($"df" * 10) >= $"n_docs")
        .select($"term", $"bucket", $"hot", $"ps")
        .as[(String, Long, Boolean, Seq[(Long, Long, Long)])]
        .map { case (t, b, hot, ps) =>
          val bytes =
            if (hot) graft.operators.ForCodec.encode(ps)
            else graft.operators.PostingCodec.encode(ps)
          (t, b, hot, ps.size, bytes)
        }.toDF("term", "bucket", "hot", "df", "bytes")
      // probe: route each block to ITS tier's strict decoder
      val decoded = tiered.filter($"term".isin(qTerms: _*))
        .as[(String, Long, Boolean, Int, Array[Byte])]
        .flatMap { case (t, b, hot, n, bytes) =>
          val ps =
            (if (hot) graft.operators.ForCodec.decode(bytes, n)
             else graft.operators.PostingCodec.decode(bytes, n))
              .getOrElse(throw new IllegalStateException(
                s"q289: corrupt ${if (hot) "FOR" else "LEB128"} block '$t'/$b"))
          ps.map { case (doc, tf, _) => (t, hot, doc, tf) }
        }.toDF("term", "hot", "doc_id", "tf")
      decoded.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"), sum($"tf").as("tf_sum"),
          sum(when($"hot", 1L).otherwise(0L)).as("n_hot"),
          sum(when(!$"hot", 1L).otherwise(0L)).as("n_cold"))
        .orderBy($"n_terms".desc, $"tf_sum".desc, $"doc_id")
        .limit(50)
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      h AS (SELECT doc_id, term FROM t
            WHERE term IN ('spark', 'window', 'merge', 'dup')),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             FROM h GROUP BY 1, 2),
      dfr AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
              FROM h GROUP BY 1),
      x AS (SELECT tf.doc_id, tf.term, tf.tf,
              (dfr.df * 10) >= n.n_docs AS hot
            FROM tf JOIN dfr USING (term) CROSS JOIN n)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(tf) AS BIGINT) AS tf_sum,
             CAST(SUM(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
             CAST(SUM(CASE WHEN NOT hot THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cold
      FROM x GROUP BY doc_id
      ORDER BY n_terms DESC, tf_sum DESC, doc_id LIMIT 50"""),
    doc = "X109k: tiered posting storage — hot terms (df·10 >= N, off " +
      "block metadata) FOR bit-packed, the cold long tail LEB128, ONE " +
      "probe routing each block to its tier's canonical-strict decoder; " +
      "query terms span both tiers so the from-raw oracle gates both " +
      "routes and the per-doc n_hot/n_cold routing evidence")

  /** q292 — type-ahead SUGGEST served off the dictionary (X111e,
    * r15): the autocomplete endpoint every search box hits on every
    * keystroke — and the reason it can answer in microseconds is that
    * it never touches postings OR raw text: candidates come through
    * q277's front-coded prefix route (metadata range → decode ONLY
    * intersecting blocks → prefix filter on reconstructed terms), and
    * the popularity signal is document frequency straight off the
    * q258 block METADATA (q278's covering-index property — blocks
    * partition docs, so Σ per-block df is exact df with zero decode).
    * Top-8 by (df DESC, term ASC) — the standard suggest ranking with
    * a deterministic tiebreak. The oracle computes the same
    * suggestions from raw text (LIKE over the vocabulary + exact
    * distinct-doc counts; neither the dictionary nor the index enters
    * it) — hash-matched at all 3 SFs.
    *
    * Scale: the prefix probe decodes O(intersecting blocks) of a
    * vocabulary/16-row dictionary; df is a metadata aggregate over
    * the candidates' rows only; the top-8 is a TakeOrdered reduction.
    * Zero corpus-sized work at query time — the property that makes
    * per-keystroke serving viable. */
  val q292 = Q(
    "q292_suggest",
    (s, dir) => {
      import s.implicits._
      val p = "s"
      val docs = Tables(s, dir, "documents")
      val dict = dictStore(docs)
      val cands = dictPrefixBlocks(dict, p)
        .select($"block", $"n_terms", $"bytes")
        .as[(Long, Long, Array[Byte])]
        .flatMap { case (b, n, bytes) =>
          graft.operators.TermDictionary.decode(bytes, n.toInt)
            .getOrElse(throw new IllegalStateException(
              s"q292: corrupt dictionary block $b"))
            .filter(_.startsWith(p))
        }
        .toDF("term")
      // popularity = df off posting-block METADATA — zero decode
      val dfreq = postingStore(docs)
        .groupBy($"term").agg(sum($"df").cast(LongType).as("df"))
      cands.join(dfreq, "term")
        .orderBy($"df".desc, $"term").limit(8)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"df".desc, $"term")).cast(LongType)) // 8-row frame
        .select($"rnk", $"term", $"df")
        .orderBy($"rnk")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      d AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM t WHERE term LIKE 's%' GROUP BY 1),
      r AS (SELECT term, df FROM d ORDER BY df DESC, term LIMIT 8)
      SELECT CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT)
               AS rnk, term, df
      FROM r ORDER BY rnk"""),
    doc = "X111e: type-ahead suggest — candidates through the front-coded " +
      "dictionary's prefix route, popularity = exact df off posting-block " +
      "metadata (q278's covering-index property), top-8 by (df, term); " +
      "neither postings nor raw text touched at query time; from-raw " +
      "oracle proves the dictionary+metadata route exact")

  /** q295 — index reshard SHRINK / node drain (X115d, r16): the other
    * half of the elastic lifecycle q288 opened — decommissioning a
    * serving node (Elasticsearch relocation on node removal, the
    * Dynamo ring's symmetric case). [[graft.operators.IndexReshard.shrink]]
    * drains shard 3 of a 4-ring store INDEX-ONLY: the drained shard's
    * blocks decode and their postings re-key onto each doc's
    * clockwise-next SURVIVOR (which IS the doc's 3-ring owner — shard
    * ids fix vnode positions, so ring(3) = ring(4) minus the drained
    * vnodes, and removing vnodes can only reassign the drained
    * shard's own docs); survivor blocks that receive movers decode,
    * interleave and re-encode (q264's merge); survivor blocks that
    * receive nothing pass through byte-UNTOUCHED. Raw documents are
    * never re-read. Gap coding has no layout freedom ⇒ maintained ≡
    * from-scratch 3-ring build BYTE FOR BYTE — the oracle replays
    * exactly that build (the surgery never enters it), hash-matched
    * at all 3 SFs. IndexReshardSpec pins the only-from-drained
    * movement law and survivor-assignment invariance; T38 fires the
    * same surgery MID-STREAM.
    *
    * Scale: assignment is the broadcast-ring device over the ID list;
    * the surgery decodes the drained shard's blocks (~1/S of the
    * index) plus the receiving blocks — block-local, never
    * corpus-shaped; the mover re-key join is |drained postings|-sized
    * on the compact doc_id key. */
  val q295 = Q(
    "q295_reshard_shrink",
    (s, dir) => storeEvidence(
      graft.operators.IndexReshard
        .shrinkReshard(Tables(s, dir, "documents"), oldShards = 4)
        .newStore),
    Some(ringStoreOracleSql(3)),
    doc = "X115d: consistent-hash index reshard SHRINK 4→3, INDEX-ONLY " +
      "node drain — the drained shard's blocks re-key onto each doc's " +
      "3-ring survivor, receiving blocks decode-interleave-re-encode, " +
      "untouched survivors pass through byte-identical, raw text never " +
      "re-read; maintained == from-scratch 3-ring build byte for byte " +
      "(the oracle replays that build; the surgery never enters it)")

  /** q297's TIERED positional store (term, bucket, hot, df, bytes) —
    * hot terms (df·10 ≥ N, q289's metadata rule) FOR-packed, cold
    * LEB128 — factored out so q308's k-term phrase probes the same
    * storage tier (the q277/q292 dedup lesson). */
  private[graft] def tieredPositionalStore(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val blocks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select($"doc_id", ($"pos" + 1).cast("long").as("pos"),
        $"col".as("term"))
      .groupBy($"term", $"doc_id")
      .agg(sort_array(collect_list($"pos")).as("ps"))
      .groupBy($"term", floor($"doc_id" / 100).as("bucket"))
      .agg(sort_array(collect_list(struct($"doc_id", $"ps")))
        .as("block"))
    // tier decision from block METADATA (blocks partition docs)
    val nDocs = docs.agg(count(lit(1)).cast(LongType).as("n_docs"))
    val dfreq = blocks
      .select($"term", size($"block").cast(LongType).as("bdf"))
      .groupBy($"term").agg(sum($"bdf").as("df"))
    blocks.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("hot", ($"df" * 10) >= $"n_docs")
      .select($"term", $"bucket", $"hot", $"block")
      .as[(String, Long, Boolean, Seq[(Long, Seq[Long])])]
      .map { case (t, b, hot, blk) =>
        val bytes =
          if (hot) graft.operators.ForCodec.encodePositional(blk)
          else graft.operators.PostingCodec.encodePositional(blk)
        (t, b, hot, blk.size, bytes)
      }.toDF("term", "bucket", "hot", "df", "bytes")
  }

  /** The tier-routing decode of a [[tieredPositionalStore]] selection:
    * each block decodes with ITS tier's strict positional decoder.
    * Returns (term, hot, doc_id, pos) — every stored position. */
  private[graft] def decodeTiered(
      sel: org.apache.spark.sql.DataFrame, who: String)
      : org.apache.spark.sql.DataFrame = {
    val s = sel.sparkSession
    import s.implicits._
    sel.select($"term", $"bucket", $"hot", $"df", $"bytes")
      .as[(String, Long, Boolean, Int, Array[Byte])]
      .flatMap { case (t, b, hot, n, bytes) =>
        val blk =
          (if (hot) graft.operators.ForCodec.decodePositional(bytes, n)
           else graft.operators.PostingCodec.decodePositional(bytes, n))
            .getOrElse(throw new IllegalStateException(
              s"$who: corrupt ${if (hot) "FOR" else "LEB128"} " +
                s"positional block '$t'/$b"))
        blk.flatMap { case (doc, ps) => ps.map(p => (t, hot, doc, p)) }
      }.toDF("term", "hot", "doc_id", "pos")
  }

  /** q297 — phrase search through TIERED FOR-packed POSITIONAL
    * postings (X109l, r16): closes the r15 verdict's "missing #4" —
    * q281/q289 bit-pack and tier the (doc, tf, first_pos) postings,
    * but the position lists the PROXIMITY probes decode (q263/q266/
    * q271/q272) stayed LEB128-only, so the hottest reads used the
    * fattest encoding. Position deltas are small ascending gaps —
    * FOR's best case. [[graft.operators.ForCodec.encodePositional]]
    * packs each block's doc gaps / npos / first positions / position
    * gaps at per-section minimal widths (canonical-strict like every
    * codec here); the store TIERS by q289's metadata rule (df·10 ≥ N
    * hot → FOR, cold → LEB128 positional), and the phrase probe
    * ROUTES each block to its tier's strict decoder. The phrase
    * ('big' hot, 'dup' cold) deliberately spans both tiers, so the
    * from-raw oracle's hash gates BOTH decode routes; n_pos1/n_pos2
    * pin full position-list losslessness (every position counted, not
    * just the matched pairs) and hot1/hot2 pin the routing decision.
    * ForCodecSpec extends the strict-parse rejection matrix to the
    * positional layout and records the measured size ratio vs the
    * LEB128 positional encoding.
    *
    * Scale: q263's posture — probe touches only the phrase terms'
    * blocks, per-block bounded decode, adjacency as one (doc, pos)
    * equi-join; tiering is one metadata join at ingest, no new
    * shuffle. */
  val q297 = Q(
    "q297_for_positional_phrase",
    (s, dir) => {
      import s.implicits._
      val phrase = Seq("big", "dup")
      val docs = Tables(s, dir, "documents")
      val tiered = tieredPositionalStore(docs)
      // probe: route each block to ITS tier's strict positional decoder
      val decoded = decodeTiered(
        tiered.filter($"term".isin(phrase: _*)), "q297")
      // routing evidence: each term's tier flag, off the probed rows
      val hotFlags = decoded.groupBy()
        .agg(
          max(when($"term" === phrase.head && $"hot", 1L).otherwise(0L))
            .as("hot1"),
          max(when($"term" === phrase(1) && $"hot", 1L).otherwise(0L))
            .as("hot2"))
      // position-count evidence: EVERY decoded position, per doc
      val posCounts = decoded.groupBy($"doc_id")
        .agg(
          sum(when($"term" === phrase.head, 1L).otherwise(0L)).as("n_pos1"),
          sum(when($"term" === phrase(1), 1L).otherwise(0L)).as("n_pos2"))
      val t1 = decoded.filter($"term" === phrase.head)
        .select($"doc_id", $"pos")
      val t2 = decoded.filter($"term" === phrase(1))
        .select($"doc_id", ($"pos" - 1).as("pos"))
      t1.join(t2, Seq("doc_id", "pos"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_phrase"), min($"pos").as("first_hit"))
        .join(posCounts, "doc_id")
        .crossJoin(broadcast(hotFlags))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      dfr AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
              FROM t WHERE term IN ('big', 'dup') GROUP BY 1),
      hf AS (SELECT
               MAX(CASE WHEN term = 'big' AND df * 10 >= n_docs
                   THEN 1 ELSE 0 END) AS hot1,
               MAX(CASE WHEN term = 'dup' AND df * 10 >= n_docs
                   THEN 1 ELSE 0 END) AS hot2
             FROM dfr CROSS JOIN n),
      h1 AS (SELECT doc_id, pos FROM t WHERE term = 'big'),
      h2 AS (SELECT doc_id, pos FROM t WHERE term = 'dup'),
      ph AS (SELECT h1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrase,
               CAST(MIN(h1.pos) AS BIGINT) AS first_hit
             FROM h1 JOIN h2 ON h1.doc_id = h2.doc_id
               AND h2.pos = h1.pos + 1
             GROUP BY h1.doc_id),
      pc AS (SELECT doc_id,
               CAST(SUM(CASE WHEN term = 'big' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pos1,
               CAST(SUM(CASE WHEN term = 'dup' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pos2
             FROM t WHERE term IN ('big', 'dup') GROUP BY 1)
      SELECT ph.doc_id, n_phrase, first_hit, n_pos1, n_pos2,
             CAST(hot1 AS BIGINT) AS hot1, CAST(hot2 AS BIGINT) AS hot2
      FROM ph JOIN pc USING (doc_id) CROSS JOIN hf
      ORDER BY ph.doc_id"""),
    doc = "X109l: phrase search through TIERED FOR-packed positional " +
      "postings — position lists bit-packed at per-section minimal " +
      "widths (doc gaps / npos / first positions / position gaps), " +
      "hot terms FOR, cold LEB128, one probe routing per block; the " +
      "phrase spans both tiers so the from-raw oracle gates both " +
      "strict decode routes, with per-doc position counts pinning " +
      "full-list losslessness and hot flags pinning the routing")

  /** q305 — document UPDATE on the compressed store (X109m, r17): the
    * r16 verdict's "missing #4" — the re-index verb (Elasticsearch's
    * `index` over an existing id, the commonest write after append)
    * closed for the q258 storage layer. q264 appends NEW docs, q274
    * deletes, but re-indexing a CHANGED document existed only as S11's
    * table-level upsert. [[graft.operators.PostingsUpdate]] composes
    * delete+insert as one operation: the updated ids run q274's
    * block-local surgery (old postings drop from exactly the touched
    * buckets), the new text builds a q258 delta segment, and q264's
    * merge folds it in (ids disjoint again after the surgery, so the
    * overlap law holds by construction). A changed doc's buckets
    * decode twice at worst — once to drop, once to merge; unchanged
    * raw text is never re-read. Gap coding has no layout freedom ⇒
    * updated ≡ a from-scratch build over the POST-UPDATE corpus BYTE
    * FOR BYTE — the oracle replays exactly that build (q258's 4-tier
    * expansion over `CASE WHEN doc_id % 9 = 5 THEN 'v2 edit ' ‖ text
    * ELSE text END`; the update never enters it), hash-matched at all
    * 3 SFs. PostingsUpdateSpec pins upsert-insert, idempotence and
    * untouched-block passthrough; T42 fires the verb MID-STREAM.
    *
    * Scale: q274 + q264 postures composed — bucket-grouped dead
    * arrays, |updated|-sized delta, compact-key joins, |touched
    * blocks| × block-width re-encode, never corpus-shaped. */
  val q305 = Q(
    "q305_postings_update",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val store = postingStore(docs)
      val updated = docs.filter($"doc_id" % 9 === 5)
        .select($"doc_id", concat(lit("v2 edit "), $"text").as("text"))
      graft.operators.PostingsUpdate(store, updated)
        .as[(String, Long, Int, Array[Byte])]
        .map { case (term, bucket, df, bytes) =>
          val ok = graft.operators.PostingCodec.decode(bytes, df).isDefined
          val h = bytes.foldLeft(0L)((a, b) =>
            (a * 31 + (b & 0xff)) % 1000000007L)
          (term, bucket, df.toLong, bytes.length.toLong, h,
            if (ok) 1L else 0L)
        }
        .toDF("term", "bucket", "df", "n_bytes", "stream_hash",
          "decode_ok")
        .orderBy($"term", $"bucket")
    },
    Some("""
      WITH d0 AS (SELECT doc_id,
              CASE WHEN doc_id % 9 = 5 THEN 'v2 edit ' || text
                   ELSE text END AS text
            FROM documents),
      t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM d0)),
      d AS (SELECT term, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
            FROM t GROUP BY term, doc_id),
      g AS (SELECT term, CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
              list(CAST(doc_id AS BIGINT) ORDER BY doc_id) AS ds,
              list(CAST(tf AS BIGINT) ORDER BY doc_id) AS tfs,
              list(CAST(first_pos AS BIGINT) ORDER BY doc_id) AS fps
            FROM d GROUP BY term, bucket),
      v AS (SELECT term, bucket, len(ds) AS df,
              list_concat([ds[1]],
                flatten(list_transform(range(1, len(ds) + 1), i ->
                  CASE WHEN i = 1 THEN [tfs[1], fps[1]]
                       ELSE [ds[i] - ds[i - 1], tfs[i], fps[i]] END)))
                AS vals
            FROM g),
      b AS (SELECT term, bucket, df,
              flatten(list_transform(vals, x -> CASE
                WHEN x < 128 THEN [x]
                WHEN x < 16384 THEN [x % 128 + 128, x // 128]
                WHEN x < 2097152 THEN
                  [x % 128 + 128, (x // 128) % 128 + 128, x // 16384]
                ELSE [x % 128 + 128, (x // 128) % 128 + 128,
                      (x // 16384) % 128 + 128, x // 2097152] END))
                AS bytes
            FROM v)
      SELECT term, bucket, CAST(df AS BIGINT) AS df,
             CAST(len(bytes) AS BIGINT) AS n_bytes,
             CAST(list_reduce(bytes, (h, x) -> (h * 31 + x) % 1000000007)
               AS BIGINT) AS stream_hash,
             CAST(1 AS BIGINT) AS decode_ok
      FROM b ORDER BY term, bucket"""),
    doc = "X109m: document UPDATE on the compressed store — the " +
      "re-index verb composed as delete+insert in one operation " +
      "(q274's block surgery drops the old version, q264's merge folds " +
      "the new delta in), changed docs' buckets decode twice at worst, " +
      "unchanged text never re-read; updated == from-scratch build " +
      "over the post-update corpus byte for byte (the oracle replays " +
      "that build)")

  /** q306 — PHRASE search through a DOC-SHARDED positional topology
    * (X109n, r17): the r16 verdict's "missing #3" — proximity serving
    * (q263/q266/q271/q272) ran on ONE index while the sharded/
    * replicated topologies (q283/q293/q294) served tf-only BM25; a
    * 100 TB proximity tier is doc-sharded like everything else.
    * Positions are DOC-LOCAL, so the composition is exact by
    * containment with no stats step at all: a doc's every position for
    * every term lives in its own shard's blocks, per-shard adjacency
    * matching ((doc, pos) equi-join WITHIN the shard) finds exactly
    * that shard's phrase hits, and the gather is a plain union — docs
    * partition across shards, so no merge logic, no recall trade. The
    * store is q263's positional layout keyed (shard, term, bucket),
    * shard = doc_id mod 4 (q283's topology); the probe decodes only
    * the phrase terms' blocks in each shard, embarrassingly parallel.
    * Output is q263's per-doc aggregate + the serving shard as routing
    * evidence; the oracle replays the phrase match from raw text with
    * shard = doc_id % 4 arithmetic — hash-matched at all 3 SFs.
    * TextOpsSpec pins sharded ≡ single-index q263 row for row and
    * that matching never crosses shards.
    *
    * Scale: q263's posture per shard — each shard decodes its own
    * phrase-term blocks only (Σ tf/S rows per shard), the adjacency
    * join keys on (shard, doc, pos) so candidates stay shard-local,
    * and the gather ships only matched doc aggregates. */
  val q306 = Q(
    "q306_sharded_phrase",
    (s, dir) => {
      import s.implicits._
      val phrase = Seq("table", "scan")
      val nShards = 4
      val store = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(pmod($"doc_id", lit(nShards.toLong)).as("shard"),
          $"doc_id", ($"pos" + 1).cast("long").as("pos"),
          $"col".as("term"))
        .groupBy($"shard", $"term", $"doc_id")
        .agg(sort_array(collect_list($"pos")).as("ps"))
        .groupBy($"shard", $"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(struct($"doc_id", $"ps")))
          .as("block"))
        .as[(Long, String, Long, Seq[(Long, Seq[Long])])]
        .map { case (sh, t, b, blk) =>
          (sh, t, b, blk.size,
            graft.operators.PostingCodec.encodePositional(blk))
        }.toDF("shard", "term", "bucket", "df", "bytes")
      // scatter: each shard decodes ITS phrase-term blocks only
      val decoded = store.filter($"term".isin(phrase: _*))
        .as[(Long, String, Long, Int, Array[Byte])]
        .flatMap { case (sh, t, b, df, bytes) =>
          graft.operators.PostingCodec.decodePositional(bytes, df)
            .getOrElse(throw new IllegalStateException(
              s"q306: corrupt positional block $sh/'$t'/$b"))
            .flatMap { case (doc, ps) => ps.map(p => (sh, t, doc, p)) }
        }.toDF("shard", "term", "doc_id", "pos")
      // per-shard adjacency: the (doc, pos) equi-join never leaves the
      // shard (positions are doc-local; the shard key documents it)
      val t1 = decoded.filter($"term" === phrase.head)
        .select($"shard", $"doc_id", $"pos")
      val t2 = decoded.filter($"term" === phrase(1))
        .select($"shard", $"doc_id", ($"pos" - 1).as("pos"))
      t1.join(t2, Seq("shard", "doc_id", "pos"))
        .groupBy($"shard", $"doc_id")
        .agg(count(lit(1)).as("n_phrase"), min($"pos").as("first_hit"))
        .select($"doc_id", $"n_phrase", $"first_hit", $"shard")
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h1 AS (SELECT doc_id, pos FROM t WHERE term = 'table'),
      h2 AS (SELECT doc_id, pos FROM t WHERE term = 'scan')
      SELECT h1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrase,
             CAST(MIN(h1.pos) AS BIGINT) AS first_hit,
             CAST(h1.doc_id % 4 AS BIGINT) AS shard
      FROM h1 JOIN h2 ON h1.doc_id = h2.doc_id AND h2.pos = h1.pos + 1
      GROUP BY h1.doc_id ORDER BY h1.doc_id"""),
    doc = "X109n: phrase search through a doc-sharded positional " +
      "topology — positions are doc-local, so per-shard (doc, pos) " +
      "adjacency matching is exact by containment with no stats step " +
      "and the gather is a plain union of matched-doc aggregates; " +
      "hash-equal to single-index q263 plus the serving-shard routing " +
      "evidence (oracle replays shard = doc_id % 4 arithmetically)")

  /** q308 — K-TERM phrase search through the TIERED positional store
    * (X109o, r17): q263/q297 match 2-term phrases with ONE shifted
    * equi-join; real phrase queries run longer ("key scan sort"), and
    * the generalization is k−1 shifts — term i's positions shift by
    * −i, and a doc position p is a phrase start iff ALL k shifted
    * streams contain (doc, p), i.e. a k-way (doc, pos) equi-join
    * chain, each join shrinking the candidate stream (the rarest-term-
    * first order a production matcher uses is a cost choice, not a
    * correctness one — the chain is associative-commutative). The
    * store is q297's TIERED layout (hot FOR / cold LEB128), every
    * block routed to its tier's strict decoder, so the k-term probe
    * exercises the same storage tier the 2-term one gates. The oracle
    * replays the 3-way positional self-join from raw text —
    * hash-matched at all 3 SFs ('key scan sort' occurs at every SF).
    *
    * Scale: q297's posture — only the k phrase terms' blocks decode;
    * each join is an equi-join on compact (doc, pos) keys whose left
    * stream only shrinks; never corpus-shaped. */
  val q308 = Q(
    "q308_kterm_phrase",
    (s, dir) => {
      import s.implicits._
      val phrase = Seq("key", "scan", "sort")
      val docs = Tables(s, dir, "documents")
      val tiered = tieredPositionalStore(docs)
      val decoded = decodeTiered(
        tiered.filter($"term".isin(phrase: _*)), "q308")
      // k−1 shifts: term i's positions move back by i, the phrase
      // start is the k-way (doc, pos) intersection
      val matched = phrase.zipWithIndex.map { case (t, i) =>
        decoded.filter($"term" === t)
          .select($"doc_id", ($"pos" - i.toLong).as("pos"))
      }.reduce((a, b) => a.join(b, Seq("doc_id", "pos")))
      matched.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_phrase"), min($"pos").as("first_hit"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h1 AS (SELECT doc_id, pos FROM t WHERE term = 'key'),
      h2 AS (SELECT doc_id, pos FROM t WHERE term = 'scan'),
      h3 AS (SELECT doc_id, pos FROM t WHERE term = 'sort')
      SELECT h1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrase,
             CAST(MIN(h1.pos) AS BIGINT) AS first_hit
      FROM h1
      JOIN h2 ON h1.doc_id = h2.doc_id AND h2.pos = h1.pos + 1
      JOIN h3 ON h1.doc_id = h3.doc_id AND h3.pos = h1.pos + 2
      GROUP BY h1.doc_id ORDER BY h1.doc_id"""),
    doc = "X109o: k-term phrase search through the tiered positional " +
      "store — k-1 position shifts, a k-way (doc, pos) equi-join chain " +
      "whose candidate stream only shrinks, every block routed to its " +
      "tier's strict decoder (hot FOR / cold LEB128); hash match vs " +
      "the 3-way positional self-join from raw text")

  /** q314's probe as a function of the documents frame — factored out
    * so TextOpsSpec can pin an ACTUAL skip on a planted corpus (on the
    * driver corpus the three common terms occupy every bucket, so the
    * zone map prunes nothing there — the oracle gates the counts, the
    * spec gates the pruning). */
  private[queries] def conjunctiveSearch(
      docs: org.apache.spark.sql.DataFrame, qTerms: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val store = postingStore(docs)
    val probed = store.filter($"term".isin(qTerms: _*))
    // zone-map intersection on block METADATA — zero decode
    val cand = probed.groupBy($"bucket")
      .agg(count_distinct($"term").as("nt"))
      .filter($"nt" === qTerms.size).select($"bucket")
    val evidence = probed
      .join(cand.withColumn("c", lit(1L)), Seq("bucket"), "left")
      .agg(count(lit(1)).as("n_blocks_meta"),
        sum(when($"c".isNotNull, 1L).otherwise(0L))
          .as("n_blocks_decoded"))
    val decoded = probed.join(cand, Seq("bucket"))
      .select($"term", $"bucket", $"df", $"bytes")
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (t, b, n, bytes) =>
        graft.operators.PostingCodec.decode(bytes, n)
          .getOrElse(throw new IllegalStateException(
            s"q314: corrupt postings block '$t'/$b"))
          .map { case (doc, tf, _) => (t, doc, tf) }
      }.toDF("term", "doc_id", "tf")
    decoded.groupBy($"doc_id")
      .agg(count_distinct($"term").as("nt"), sum($"tf").as("tf_sum"))
      .filter($"nt" === qTerms.size)
      .select($"doc_id", $"tf_sum")
      .crossJoin(broadcast(evidence))
      .orderBy($"doc_id")
  }

  /** q314 — CONJUNCTIVE (AND) search with bucket-metadata skipping
    * (X110g, r17): the boolean-AND query class — docs containing ALL
    * query terms — served from the compressed store with a ZONE-MAP
    * intersection BEFORE any decode. Blocks are doc-aligned (bucket =
    * doc_id DIV 100) and partition docs, so the (term, bucket) block
    * LIST is an exact zone map: a doc in bucket b containing term t
    * forces block (t, b) to exist — therefore only buckets where ALL
    * k terms have a block can hold a conjunctive hit, and every other
    * bucket's blocks are skipped UNDECODED (the metadata-first
    * intersection production AND-engines run: Lucene's skip lists /
    * postings intersection driven by the rarest term, here in its
    * doc-aligned-block form). The probe decodes only the candidate
    * buckets' blocks, verifies per doc (count distinct terms = k), and
    * emits per-doc evidence plus the skip counts (blocks fetched from
    * metadata vs blocks decoded). The oracle recomputes the hits AND
    * both counts from raw text — pruning is gated exact, not assumed.
    *
    * Scale: the zone-map intersection is metadata-only (Σ_t |blocks(t)|
    * rows, never a decode); decode cost is |candidate buckets| × k
    * blocks — on selective conjunctions the skipped majority never
    * leaves storage; the verify aggregate is keyed by doc over
    * candidate-bucket rows only. */
  val q314 = Q(
    "q314_conjunctive_search",
    (s, dir) => conjunctiveSearch(Tables(s, dir, "documents"),
      Seq("table", "scan", "key")),
    Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      h AS (SELECT doc_id, term FROM t
            WHERE term IN ('table', 'scan', 'key')),
      blk AS (SELECT DISTINCT term,
                CAST(doc_id // 100 AS BIGINT) AS bucket
              FROM h),
      cand AS (SELECT bucket FROM blk
               GROUP BY bucket HAVING COUNT(DISTINCT term) = 3),
      ev AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks_meta,
               CAST(SUM(CASE WHEN bucket IN (SELECT bucket FROM cand)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks_decoded
             FROM blk),
      hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf_sum
               FROM h GROUP BY doc_id
               HAVING COUNT(DISTINCT term) = 3)
      SELECT doc_id, tf_sum, n_blocks_meta, n_blocks_decoded
      FROM hits CROSS JOIN ev ORDER BY doc_id"""),
    doc = "X110g: conjunctive AND search with zone-map skipping — " +
      "doc-aligned blocks partition docs, so the (term, bucket) block " +
      "list is an exact zone map: only buckets where ALL k terms have " +
      "a block can hold a hit, every other block skips undecoded; the " +
      "oracle recomputes hits AND both block counts from raw text, " +
      "gating the pruning exact")

  /** q324 — K-TERM phrase through the DOC-SHARDED positional topology
    * (X109r, r18): the r17 verdict's "missing #4" — q308 generalized
    * phrase matching to k terms but ran single-index, while the
    * topologies (q306/q311) served 2-term phrases only; a production
    * proximity tier runs long phrases on sharded stores. The
    * composition is q306's containment argument VERBATIM at any k:
    * positions are doc-local, so term i's −i-shifted stream for a doc
    * lives entirely in the doc's own shard, the k-way (shard, doc,
    * pos) equi-join chain never crosses shards, and the gather is a
    * plain union of matched-doc aggregates — exact with no stats step
    * and no recall trade. Store = q306's positional layout (shard =
    * doc_id mod 4); probe decodes only the 3 phrase terms' blocks in
    * each shard. Output = q308's per-doc rows + the serving shard; the
    * oracle replays the 3-way positional self-join from raw text with
    * shard = doc_id % 4 arithmetic — hash-matched at all 3 SFs, and
    * the per-shard wire bound is the matched-doc aggregate rows only
    * (the chain's candidate stream shrinks at every join).
    *
    * Scale: q306's posture at k terms — each shard decodes Σ tf of
    * ITS phrase-term blocks; each chain join keys on (shard, doc,
    * pos), so candidates stay shard-local and only shrink; the union
    * ships one row per matched doc. */
  val q324 = Q(
    "q324_sharded_kterm_phrase",
    (s, dir) => {
      import s.implicits._
      val phrase = Seq("key", "scan", "sort")
      val nShards = 4
      val store = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(pmod($"doc_id", lit(nShards.toLong)).as("shard"),
          $"doc_id", ($"pos" + 1).cast("long").as("pos"),
          $"col".as("term"))
        .groupBy($"shard", $"term", $"doc_id")
        .agg(sort_array(collect_list($"pos")).as("ps"))
        .groupBy($"shard", $"term", floor($"doc_id" / 100).as("bucket"))
        .agg(sort_array(collect_list(struct($"doc_id", $"ps")))
          .as("block"))
        .as[(Long, String, Long, Seq[(Long, Seq[Long])])]
        .map { case (sh, t, b, blk) =>
          (sh, t, b, blk.size,
            graft.operators.PostingCodec.encodePositional(blk))
        }.toDF("shard", "term", "bucket", "df", "bytes")
      // scatter: each shard decodes ITS phrase-term blocks only
      val decoded = store.filter($"term".isin(phrase: _*))
        .as[(Long, String, Long, Int, Array[Byte])]
        .flatMap { case (sh, t, b, df, bytes) =>
          graft.operators.PostingCodec.decodePositional(bytes, df)
            .getOrElse(throw new IllegalStateException(
              s"q324: corrupt positional block $sh/'$t'/$b"))
            .flatMap { case (doc, ps) => ps.map(p => (sh, t, doc, p)) }
        }.toDF("shard", "term", "doc_id", "pos")
      // k−1 shifts; the chain joins key on (shard, doc, pos) so the
      // candidate stream never crosses shards and only shrinks
      val matched = phrase.zipWithIndex.map { case (t, i) =>
        decoded.filter($"term" === t)
          .select($"shard", $"doc_id", ($"pos" - i.toLong).as("pos"))
      }.reduce((a, b) => a.join(b, Seq("shard", "doc_id", "pos")))
      matched.groupBy($"shard", $"doc_id")
        .agg(count(lit(1)).as("n_phrase"), min($"pos").as("first_hit"))
        .select($"doc_id", $"n_phrase", $"first_hit", $"shard")
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents)),
      h1 AS (SELECT doc_id, pos FROM t WHERE term = 'key'),
      h2 AS (SELECT doc_id, pos FROM t WHERE term = 'scan'),
      h3 AS (SELECT doc_id, pos FROM t WHERE term = 'sort')
      SELECT h1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_phrase,
             CAST(MIN(h1.pos) AS BIGINT) AS first_hit,
             CAST(h1.doc_id % 4 AS BIGINT) AS shard
      FROM h1
      JOIN h2 ON h1.doc_id = h2.doc_id AND h2.pos = h1.pos + 1
      JOIN h3 ON h1.doc_id = h3.doc_id AND h3.pos = h1.pos + 2
      GROUP BY h1.doc_id ORDER BY h1.doc_id"""),
    doc = "X109r: k-term phrase through the doc-sharded positional " +
      "topology — positions doc-local, the k-way (shard, doc, pos) " +
      "equi-join chain never crosses shards and only shrinks, gather " +
      "is a plain union of matched-doc aggregates; hash-equal to " +
      "single-index q308 plus the serving-shard routing evidence " +
      "(oracle replays shard = doc_id % 4 arithmetically)")

  /** q327 — CONJUNCTIVE (AND) search with zone-map skipping on the
    * DOC-SHARDED topology (X110i, r18): the r17 verdict's "missing #5"
    * tail — q314's metadata-first intersection ran single-index; a
    * sharded AND-tier intersects zone maps PER SHARD. The argument is
    * q314's with one more key component: (shard, bucket) pairs
    * partition docs (shard = doc_id mod 4, bucket = doc_id DIV 100),
    * so the (term, shard, bucket) block list is still an exact zone
    * map — only (shard, bucket) cells where ALL k terms have a block
    * can hold a hit, every other block skips UNDECODED, and the
    * per-shard verify never crosses shards (docs are shard-local).
    * The probe emits per-doc evidence + the serving shard + the skip
    * counts; the oracle recomputes hits AND both counts from raw text
    * with the shard arithmetic — pruning gated exact at all 3 SFs.
    * Note the counts DIFFER from q314's (a (term, bucket) block splits
    * into up to S per-shard blocks — finer zone maps, sharper skips on
    * selective conjunctions): the composition is re-gated, not
    * assumed.
    *
    * Scale: q314's posture per shard — the intersection is
    * metadata-only over Σ_t |blocks(t)| rows; decode cost is
    * |candidate cells| × k blocks; the verify aggregate keys on
    * (shard, doc) over candidate-cell rows only. */
  val q327 = Q(
    "q327_sharded_conjunctive",
    (s, dir) => {
      import s.implicits._
      val qTerms = Seq("table", "scan", "key")
      val docs = Tables(s, dir, "documents")
      val store = postingStore(
        docs.select(pmod($"doc_id", lit(4L)).as("shard"), $"doc_id",
          $"text"), "shard")
      val probed = store.filter($"term".isin(qTerms: _*))
      // zone-map intersection on (shard, bucket) METADATA — zero decode
      val cand = probed.groupBy($"shard", $"bucket")
        .agg(count_distinct($"term").as("nt"))
        .filter($"nt" === qTerms.size).select($"shard", $"bucket")
      val evidence = probed
        .join(cand.withColumn("c", lit(1L)), Seq("shard", "bucket"),
          "left")
        .agg(count(lit(1)).as("n_blocks_meta"),
          sum(when($"c".isNotNull, 1L).otherwise(0L))
            .as("n_blocks_decoded"))
      val decoded = probed.join(cand, Seq("shard", "bucket"))
        .select($"shard", $"term", $"bucket", $"df", $"bytes")
        .as[(Long, String, Long, Int, Array[Byte])]
        .flatMap { case (sh, t, b, n, bytes) =>
          graft.operators.PostingCodec.decode(bytes, n)
            .getOrElse(throw new IllegalStateException(
              s"q327: corrupt postings block $sh/'$t'/$b"))
            .map { case (doc, tf, _) => (sh, t, doc, tf) }
        }.toDF("shard", "term", "doc_id", "tf")
      decoded.groupBy($"shard", $"doc_id")
        .agg(count_distinct($"term").as("nt"), sum($"tf").as("tf_sum"))
        .filter($"nt" === qTerms.size)
        .select($"doc_id", $"tf_sum", $"shard")
        .crossJoin(broadcast(evidence))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      h AS (SELECT doc_id, term FROM t
            WHERE term IN ('table', 'scan', 'key')),
      blk AS (SELECT DISTINCT term,
                CAST(doc_id % 4 AS BIGINT) AS shard,
                CAST(doc_id // 100 AS BIGINT) AS bucket
              FROM h),
      cand AS (SELECT shard, bucket FROM blk
               GROUP BY shard, bucket HAVING COUNT(DISTINCT term) = 3),
      ev AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks_meta,
               CAST(SUM(CASE WHEN cand.shard IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks_decoded
             FROM blk LEFT JOIN cand
               ON blk.shard = cand.shard AND blk.bucket = cand.bucket),
      hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf_sum,
                 CAST(doc_id % 4 AS BIGINT) AS shard
               FROM h GROUP BY doc_id
               HAVING COUNT(DISTINCT term) = 3)
      SELECT doc_id, tf_sum, shard, n_blocks_meta, n_blocks_decoded
      FROM hits CROSS JOIN ev ORDER BY doc_id"""),
    doc = "X110i: conjunctive AND with zone-map skipping on the " +
      "doc-sharded topology — (shard, bucket) cells partition docs, so " +
      "the per-shard block list stays an exact zone map (finer than " +
      "q314's: blocks split per shard, sharper skips), matching never " +
      "crosses shards; the oracle recomputes hits AND both block " +
      "counts with the shard arithmetic, gating the pruning exact")

  val all: Seq[Q] = Seq(q42, q43, q44, q45, q46, q47, q48, q49, q62, q63,
    q91, q92, q95, q141, q199, q203, q209, q210, q213, q215, q223, q225,
    q233, q239, q245, q246, q247, q251, q254, q258, q259, q263, q264,
    q266, q268, q270, q271, q274, q275, q277, q278, q281, q282, q284,
    q285, q288, q289, q292, q295, q297, q305, q306, q308, q314, q324,
    q327)
}
