package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{KeywordSearch, Redact}

/** Retrieval + scrubbing queries over the `documents` table: BM25 keyword
  * search (k1), TF-IDF distinctive terms (k2), and PII redaction (k3).
  *
  * The k1/k2 oracles replay the exact double arithmetic in DuckDB (every
  * FP step correctly rounded on identical operands — see
  * [[graft.operators.KeywordSearch]]); k3's oracle replays the regex
  * redaction byte-for-byte over deterministic synthesized contact lines
  * (the corpus itself carries no PII, so the query grafts addresses and
  * phone numbers onto each document from its own key — a genuine
  * cross-engine regex-parity check, not a vacuous empty diff).
  */
object SearchOps extends QueryFamily {

  /** Query terms spanning the corpus's df spectrum: `dup` is rare (~5% of
    * docs) so its odds-ratio idf dominates; `spark`/`vector` are common
    * (~77%) and contribute mostly through tf and length normalization. */
  private val QueryTerms = Seq("dup", "spark", "vector")

  private val TopK = 20

  /** k1: BM25 top-k keyword search — scan + 1-row broadcast stats +
    * row-local scoring, then a TakeOrdered top-k (no full sort at scale).
    * Ties broken by doc id for a total order. */
  def k1Bm25TopK(s: SparkSession, dir: String): DataFrame =
    KeywordSearch.bm25(Tables(s, dir, "documents"), "doc_id", "text", QueryTerms)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(TopK)
      .select(col("id").as("doc_id"), col("score"))

  private val k1Sql: String =
    s"""WITH ${KeywordSearch.bm25Ctes(QueryTerms)}
       |SELECT id AS doc_id, score FROM sc WHERE score > 0
       |ORDER BY score DESC, id LIMIT $TopK""".stripMargin

  /** k2: per-document most-distinctive term (TF-IDF argmax) — the
    * inverted-index plan: postings explode, (id, term) partial agg, df
    * window on term, per-doc row_number. */
  def k2TfidfTerm(s: SparkSession, dir: String): DataFrame =
    KeywordSearch.tfidfTopTerm(Tables(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("top_term"), col("tfidf"))
      .orderBy("doc_id")

  private val k2Sql: String =
    s"""WITH ${KeywordSearch.tfidfCtes}
       |SELECT id AS doc_id, top_term, tfidf FROM top ORDER BY doc_id""".stripMargin

  /** Adjacent-pair phrases spanning the corpus's frequency spectrum. */
  private val Phrases =
    Seq("fast sort", "query key", "table table", "part filter scan")

  /** k4: exact-phrase search — token-boundary containment of multi-word
    * phrases, the retrieval primitive BM25's bag-of-words misses (term
    * ADJACENCY). Both engines test `' '||text||' '` containing
    * `' phrase '`, so word boundaries at the string edges need no regex.
    * Row-local scan work; the per-phrase explode makes one pass serve
    * every phrase (|phrases| is a literal list, not a join). */
  def k4PhraseSearch(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit(" "), col("text"), lit(" ")).as("pt"))
      .select(col("doc_id"), explode(typedLit(Phrases)).as("phrase"), col("pt"))
      .filter(col("pt").contains(concat(lit(" "), col("phrase"), lit(" "))))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy("phrase")

  private val k4Sql: String =
    s"""WITH ph AS (SELECT unnest([${Phrases.map(p => s"'$p'").mkString(", ")}]) AS phrase)
       |SELECT phrase, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
       |FROM documents CROSS JOIN ph
       |WHERE ' ' || text || ' ' LIKE '% ' || phrase || ' %'
       |GROUP BY phrase ORDER BY phrase""".stripMargin

  /** Term pairs from across the corpus frequency spectrum, probed at
    * word distance ≤ [[Slop]]. */
  private val NearPairs = Seq(("join", "hash"), ("scan", "filter"),
    ("vector", "column"))
  private val Slop = 3

  /** k5: proximity (NEAR/k) search — the positional-index retrieval
    * primitive between k4's exact adjacency and k1's bag-of-words: two
    * terms co-occurring within `Slop` words. Scale shape: the postings
    * explode is filtered to the query vocabulary BEFORE the self-join,
    * so the join input is |query-term postings|, not the corpus; the
    * pair table is a 3-row broadcast; the one shuffle is the doc_id
    * equi-join. Reports per pair: distinct matching docs, total
    * position-pair hits, first matching doc. */
  def k5ProximitySearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = NearPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val pos = Tables(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "term")
      .filter(col("term").isin(terms: _*))
    proximityRollup(pos, NearPairs.toDF("ta", "tb"))
  }

  /** k5's join/rollup over any (doc_id, pos, term) postings frame — the
    * serve stage shared with the at-rest k9: broadcast the pair table,
    * equi-join the two term postings on the doc, slop-filter, roll up. */
  private def proximityRollup(pos: DataFrame, pairs: DataFrame): DataFrame =
    pos.as("a")
      .join(broadcast(pairs), col("a.term") === col("ta"))
      .join(pos.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("b.term") === col("tb") &&
          abs(col("a.pos") - col("b.pos")) <= Slop)
      .select(concat(col("ta"), lit(" "), col("tb")).as("pair"),
        col("a.doc_id").as("doc_id"))
      .groupBy(col("pair"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("pair")

  private val k5Sql: String = {
    val vals = NearPairs.map(p => s"('${p._1}', '${p._2}')").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |pos AS (
       |  SELECT doc_id, u.p AS pos, u.t AS term FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
       |      i -> struct_pack(p := i, t := tk[CAST(i AS INTEGER)]))) AS u
       |    FROM toks) z),
       |pr AS (SELECT * FROM (VALUES $vals) v(ta, tb))
       |SELECT ta || ' ' || tb AS pair,
       |  COUNT(DISTINCT a.doc_id) AS n_docs,
       |  COUNT(*) AS n_hits,
       |  MIN(a.doc_id) AS first_doc
       |FROM pos a JOIN pr ON a.term = pr.ta
       |JOIN pos b ON b.doc_id = a.doc_id AND b.term = pr.tb
       |  AND abs(a.pos - b.pos) <= $Slop
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Misspelled query forms of real corpus terms (substitution,
    * substitution, insertion) — each must resolve through the typo
    * expansion, never by exact match. */
  private[queries] val TypoTerms = Seq("vektor", "streem", "windoww")

  /** {identity} ∪ one-char deletions as a row-local generated column —
    * the SymSpell blocking key shared by k7 (built per run) and k8
    * (persisted at rest). Typed Column lambdas throughout (no string-
    * built expr): safe for any column name or term content. */
  private[graft] def deletionVariants(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = array_union(
    array(c),
    transform(sequence(lit(1), length(c)), i =>
      concat(c.substr(lit(1), i - lit(1)), c.substr(i + lit(1), length(c)))))

  /** Driver-side {identity} ∪ one-char deletions per query term — the
    * same rule as [[deletionVariants]] applied to literal terms, so
    * every serve path (k8's at-rest probe, the rolling gate's
    * [[graft.streaming.StreamOps.fuzzyServeRolling]]) expands queries
    * with EXACTLY the rule the index was built with. Returns
    * (query_term, variant) pairs. */
  private[graft] def queryVariants(terms: Seq[String]): Seq[(String, String)] =
    terms.flatMap { t =>
      (t +: (0 until t.length).map(i => t.substring(0, i) + t.substring(i + 1)))
        .distinct.map(v => (t, v))
    }

  /** SQL single-quoted literal with quote escaping. */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** k7: typo-tolerant term resolution — expand each misspelled query
    * term to the corpus-vocabulary terms within Levenshtein distance 1,
    * with document frequency per match (the "did you mean" / fuzzy
    * retrieval front-end that turns a typo into k1's exact BM25 terms).
    *
    * Scale shape — SymSpell-style deletion-neighborhood blocking, NOT a
    * |queries|×|vocab| edit-distance scan: every term emits its
    * {identity} ∪ {one-char deletions} variant set (≤ len+1 short
    * strings, row-local), candidates are an EQUI-join on the variant
    * (any lev-≤1 pair shares one: a substitution at i shares the
    * both-delete-i variant, an insertion's deletion IS the shorter
    * term), and the cheap exact `levenshtein` verify runs only on the
    * blocked candidates. The variant table is the at-rest artifact a
    * production spellchecker ships — [[k8FuzzyAtRest]] persists and
    * serves exactly that; this form prices the build+probe in one
    * plan. The oracle replays the SEMANTICS (direct lev ≤ 1 over
    * the vocabulary) without modeling the blocking, which is exact —
    * the m2 banding precedent. */
  def k7FuzzySearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // df = documents containing the term (distinct doc_id per term)
    val df = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vvar = df.select(col("term"), col("df"),
      explode(deletionVariants(col("term"))).as("variant"))
    val qvar = TypoTerms.toDF("query_term")
      .select(col("query_term"),
        explode(deletionVariants(col("query_term"))).as("variant"))
    broadcast(qvar)
      .join(vvar, "variant")
      .select(col("query_term"), col("term").as("matched_term"), col("df"))
      .distinct()
      .filter(levenshtein(col("query_term"), col("matched_term")) <= 1)
      .withColumn("lev",
        levenshtein(col("query_term"), col("matched_term")).cast("int"))
      .select(col("query_term"), col("matched_term"), col("lev"), col("df"))
      .orderBy("query_term", "matched_term")
  }

  private val k7Sql: String = {
    val vals = TypoTerms.map(t => s"(${sqlLit(t)})").mkString(", ")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |df AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
       |q AS (SELECT * FROM (VALUES $vals) v(query_term))
       |SELECT q.query_term, d.term AS matched_term,
       |  CAST(levenshtein(q.query_term, d.term) AS INTEGER) AS lev, d.df
       |FROM q JOIN df d ON levenshtein(q.query_term, d.term) <= 1
       |ORDER BY query_term, matched_term""".stripMargin
  }

  /** Positional-index shard count (k9/k10). Each term's occurrences live
    * in exactly one shard (`shard = hex60(term) mod 16`), so a probe
    * reads only its query terms' shards via partition pruning. */
  private val K9Shards = 16

  /** Build-once POSITIONAL index — (doc_id, pos, term), one row per token
    * occurrence, term-sharded: the artifact behind Lucene-style phrase
    * and NEAR queries. Built at most once per corpus fingerprint in a
    * sibling session (marker-last — the k6/k8/i5/c12 discipline); both
    * k9 (proximity) and k10 (phrase) serve from the SAME files — one
    * write-once index, many query shapes. Returns the lazily-read frame;
    * probes partition-prune to their terms' shards. */
  private def positionalIndex(s: SparkSession, dir: String): DataFrame = {
    val root = ScaleOps.artifactRoot("k9",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    ScaleOps.buildOnce("k9", root, "_INDEX_OK") {
      val t = s.newSession()
      Tables(t, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "term")
        .withColumn("shard",
          pmod(graft.operators.PortableHash.hex60(col("term")),
            lit(K9Shards.toLong)).cast("int"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(root.resolve("positions").toString)
    }
    s.read.parquet(root.resolve("positions").toString)
  }

  /** Partition-pruned probe of [[positionalIndex]]: only the query
    * terms' shard directories are listed, let alone read. */
  private def probePositions(idx: DataFrame, terms: Seq[String]): DataFrame = {
    val shards = terms
      .map(t => (graft.operators.PortableHash.hex60(t) % K9Shards).toInt)
      .distinct
    idx.filter(col("shard").isin(shards: _*) && col("term").isin(terms: _*))
  }

  /** k9: k5's proximity (NEAR/k) search served from the AT-REST
    * positional index — the corpus rescan + per-query postings explode
    * replaced by a partition-pruned read of the query terms' shards
    * (plan-audited like k6/k8), then the identical join/rollup. Oracle =
    * k5's SQL: the at-rest round-trip must not change an answer bit. At
    * 100 TB the difference is tokenizing the corpus per query vs reading
    * a few shard directories of a write-once index. */
  def k9ProximityAtRest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = NearPairs.flatMap(p => Seq(p._1, p._2)).distinct
    proximityRollup(probePositions(positionalIndex(s, dir), terms),
      NearPairs.toDF("ta", "tb"))
  }

  /** k10: k4's exact-phrase search served from the SAME at-rest
    * positional index as k9 — the positional-adjacency form for
    * ARBITRARY n-word phrases, which is the Lucene phrase-query plan.
    * Instead of folding n−1 position self-joins (one per adjacency),
    * the check is slot-aligned voting: flatten each phrase to
    * (phrase, slot i, term, n), join ONCE against the probed postings —
    * a token at position p matching slot i votes for start p−i — and a
    * (doc, start) holding all n DISTINCT slots is an occurrence. One
    * index join and one aggregation regardless of phrase length, over
    * only the query terms' shards; repeated-word phrases ("table
    * table") work because the two slots vote independently. Equivalent
    * to k4's space-boundary substring containment on space-tokenized
    * text, so the oracle is k4's own SQL. */
  def k10PhraseAtRest(s: SparkSession, dir: String): DataFrame =
    phraseRollup(s, probePositions(positionalIndex(s, dir), PhraseTerms))

  private def PhraseTerms: Seq[String] = Phrases.flatMap(_.split(" ")).distinct

  /** The slot-aligned voting itself, shared by the at-rest k10 and the
    * rolling k13 — `pos` must carry (doc_id, pos, term) rows covering
    * [[PhraseTerms]] (probed from either index form). */
  private def phraseRollup(s: SparkSession, pos: DataFrame): DataFrame = {
    import s.implicits._
    val pterms = Phrases.flatMap { p =>
      val ts = p.split(" ")
      ts.zipWithIndex.map { case (t, i) => (p, i, t, ts.length) }
    }
    pos.join(broadcast(pterms.toDF("phrase", "i", "term", "n")), "term")
      .groupBy(col("phrase"), col("doc_id"),
        (col("pos") - col("i")).as("start"), col("n"))
      .agg(countDistinct(col("i")).as("hits"))
      .filter(col("hits") === col("n"))
      .groupBy(col("phrase"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("phrase")
  }

  /** Deletion-variant index shard count (k8). Each variant lives in
    * exactly one shard (`shard = hex60(variant) mod 16`), so a query
    * probe reads only its variants' shards via partition pruning — the
    * k6 postings discipline applied to the spellchecker artifact. */
  private val K8Shards = 16

  /** k8: k7's typo-tolerant resolution served from the AT-REST variant
    * table — the deployment boundary k7's scaladoc names: the deletion-
    * neighborhood index (variant, term, df) is built ONCE per corpus
    * fingerprint in a SIBLING session and landed shard-partitioned
    * (marker-last, fingerprint-keyed — the k6/i5/c12 discipline); later
    * sessions or processes expand only the QUERY terms (driver-side:
    * |queries|·(len+1) strings), probe the matching shards via partition
    * pruning (plan-audited like k6), and verify `levenshtein` on the
    * blocked candidates. Corpus text is never read in the serving
    * session. Oracle = k7's SQL: the at-rest round-trip must not change
    * a single answer bit. At 100 TB the difference is a full vocabulary
    * scan + variant explode per query vs reading ≤|query variants| shard
    * directories of a write-once index. */
  def k8FuzzyAtRest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ScaleOps.artifactRoot("k8",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    // marker LAST (via buildOnce, under the family lock): a crash
    // mid-write leaves no marker and the next call rebuilds (overwrite
    // mode cleans partial output)
    ScaleOps.buildOnce("k8", root, "_INDEX_OK") {
      val t = s.newSession()
      val df = Tables(t, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      df.select(col("term"), col("df"),
          explode(deletionVariants(col("term"))).as("variant"))
        .withColumn("shard",
          pmod(graft.operators.PortableHash.hex60(col("variant")),
            lit(K8Shards.toLong)).cast("int"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(root.resolve("variants").toString)
    }
    // query-side expansion runs on the driver (tiny, literal terms) with
    // the same identity-∪-deletions rule the index was built with
    val qv = queryVariants(TypoTerms)
    val shards = qv
      .map(v => (graft.operators.PortableHash.hex60(v._2) % K8Shards).toInt)
      .distinct
    val vvar = s.read.parquet(root.resolve("variants").toString)
      .filter(col("shard").isin(shards: _*) &&
        col("variant").isin(qv.map(_._2).distinct: _*))
    val qvar = qv.toDF("query_term", "variant")
    broadcast(qvar).join(vvar, "variant")
      .select(col("query_term"), col("term").as("matched_term"), col("df"))
      .distinct()
      .filter(levenshtein(col("query_term"), col("matched_term")) <= 1)
      .withColumn("lev",
        levenshtein(col("query_term"), col("matched_term")).cast("int"))
      .select(col("query_term"), col("matched_term"), col("lev"), col("df"))
      .orderBy("query_term", "matched_term")
  }

  /** k3: PII redaction audit — each document gets deterministic contact
    * lines synthesized from its own key (one source-derived email, a
    * second cc address on even ids, one +1 phone number), then the
    * redactor scrubs them and reports match counts plus the md5 of the
    * scrubbed text. Row-local regexp work, zero shuffle. */
  def k3PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val pii = concat(
      col("text"), lit(" contact "), col("source"), col("doc_id").cast("string"),
      lit("@example.com"),
      when(col("doc_id") % 2 === 0, lit(" cc admin@corp.example.org")).otherwise(lit("")),
      lit(" tel +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Redact.redactDocs(
        Tables(s, dir, "documents").select(col("doc_id"), pii.as("text")),
        "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("text")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  private val k3Sql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+1-[0-9]{3}-[0-9]{4}"
    s"""WITH pii AS (
       |  SELECT doc_id,
       |    text || ' contact ' || source || CAST(doc_id AS VARCHAR) || '@example.com'
       |      || CASE WHEN doc_id % 2 = 0 THEN ' cc admin@corp.example.org' ELSE '' END
       |      || ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$phone')) AS INTEGER) AS n_phones,
       |  md5(regexp_replace(regexp_replace(text, '$email', '[EMAIL]', 'g'),
       |      '$phone', '[PHONE]', 'g')) AS redacted_md5
       |FROM pii ORDER BY doc_id""".stripMargin
  }

  /** Inverted-index shard count. Each query term lives in exactly one
    * shard directory (`shard = hex60(term) mod 16`), so a probe reads
    * |query-term shards| / 16 of the index via PARTITION pruning — the
    * scan never lists, let alone reads, the other shards' files. */
  private[queries] val K6Shards = 16

  /** k6: BM25 served from an AT-REST inverted index — k1's exact answer
    * (same oracle) with the corpus rescan replaced by the layout a search
    * deployment actually runs: a term-sharded postings table
    * (term, doc, tf, doc-length — dli denormalized into the posting, the
    * standard index trick that kills the doc-length join) plus a 1-row
    * corpus-stats table, built ONCE per corpus fingerprint in a sibling
    * session ([[ScaleOps.artifactRoot]]'s marker-last/prune discipline,
    * the i5/c12/s4 pattern), then probed.
    *
    * Serve-side shape: partition-pruned scan of the query terms' shards
    * (plan-audited — PlanAuditSpec pins `PartitionFilters` on `shard`),
    * an integer tf pivot per doc (order-independent sums, so the
    * shuffle cannot perturb the doubles), per-term df counted from the
    * same probe, and [[KeywordSearch.scoreColumn]] — the IDENTICAL
    * scoring expression tree k1 uses, so the two paths are bit-equal by
    * construction. At 100 TB the difference is a full-corpus scan per
    * query vs reading 3 shard directories of a write-once index. */
  /** The k6 at-rest inverted index, built AT MOST ONCE per corpus
    * fingerprint and shared by every at-rest query shape over it (k6's
    * ranked BM25 search, k17's boolean retrieval) — one write-once
    * index, many readers. Marker LAST via buildOnce, under the family
    * lock: a crash mid-write leaves no marker and the next call
    * rebuilds (overwrite mode cleans partial output).
    *
    * Caller contract for frames served from this root (k6, k17): they
    * are LAZY over the artifact files and must be consumed before the
    * corpus fingerprint can change — a fingerprint change (testdata
    * regeneration) prunes this root, and a frame held across it fails
    * with FileNotFoundException rather than a staleness error. (The
    * query entry points are collected immediately by the driver
    * contract; the c20-style eager materialization is reserved for
    * frames over artifacts ANOTHER family member can rebuild
    * mid-session.) */
  private def k6PostingsRoot(s: SparkSession, dir: String): java.nio.file.Path = {
    val root = ScaleOps.artifactRoot("k6",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    ScaleOps.buildOnce("k6", root, "_INDEX_OK") {
      val t = s.newSession()
      val docs = Tables(t, dir, "documents")
      val posted = docs
        .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
        .select(col("id"), size(col("toks")).as("dli"), explode(col("toks")).as("term"))
        .groupBy(col("term"), col("id"), col("dli"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("shard",
          pmod(graft.operators.PortableHash.hex60(col("term")), lit(K6Shards.toLong))
            .cast("int"))
      posted.write.mode("overwrite").partitionBy("shard")
        .parquet(root.resolve("postings").toString)
      docs.agg(count(lit(1)).as("n"),
          sum(size(split(col("text"), " ")).cast("long")).as("sumdl"))
        .write.mode("overwrite").parquet(root.resolve("stats").toString)
    }
    root
  }

  /** The shard-pruned probe of the k6 index every at-rest reader (k6,
    * k17, k18) shares: list the query terms' shard directories (the
    * write-once index's partition column — PartitionFilters, plan-
    * audited), push the term filter, never scan the corpus. Factored so
    * a sharding-scheme change lands in exactly one place. */
  private def probePostings(s: SparkSession, root: java.nio.file.Path,
      terms: Seq[String]): DataFrame = {
    val shards = terms
      .map(t => (graft.operators.PortableHash.hex60(t) % K6Shards).toInt).distinct
    s.read.parquet(root.resolve("postings").toString)
      .filter(col("shard").isin(shards: _*) && col("term").isin(terms: _*))
  }

  def k6SearchAtRest(s: SparkSession, dir: String): DataFrame = {
    val root = k6PostingsRoot(s, dir)
    val post = probePostings(s, root, QueryTerms)
    val tfAggs = QueryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(lit(0L))).as(s"tf_$i") }
    val byDoc = post.groupBy(col("id"), col("dli"))
      .agg(tfAggs.head, tfAggs.tail: _*)
    val dfAggs = QueryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, lit(1L)).otherwise(lit(0L))).as(s"df_$i") }
    val dfs = post.agg(dfAggs.head, dfAggs.tail: _*)
    val stats = s.read.parquet(root.resolve("stats").toString)
    byDoc.crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .select(col("id"), KeywordSearch.scoreColumn(QueryTerms).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(TopK)
      .select(col("id").as("doc_id"), col("score"))
  }

  /** k17's boolean query, fixed on both sides:
    * ((dup AND spark) OR vector) AND NOT stream — a conjunction, a
    * disjunction, and a negation in one expression, every connective
    * exercised. */
  private[queries] val BoolTerms = Seq("dup", "spark", "vector", "stream")

  /** The boolean clause over the per-doc indicator columns — ONE copy
    * shared by k17's and k18's Spark filters (the exactness-critical-
    * single-copy rule: the clause IS the query's semantics). */
  private val BoolClause: org.apache.spark.sql.Column =
    ((col("has_dup") === 1 && col("has_spark") === 1) ||
      col("has_vector") === 1) && col("has_stream") === 0

  /** The boolean candidate-set CTE chain k17/k18/h10 replay: `btok`
    * term indicators, `bflags` per-doc flags, `bsel(doc_id)` = the docs
    * satisfying the fixed clause — the SQL clause text lives here and
    * only here. */
  private[queries] val boolSelCtes: String = {
    val flags = BoolTerms.map(t =>
      s"MAX(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS has_$t").mkString(",\n    ")
    s"""btok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |bflags AS (
       |  SELECT doc_id,
       |    $flags
       |  FROM btok
       |  WHERE term IN (${BoolTerms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY doc_id),
       |bsel AS (
       |  SELECT doc_id FROM bflags
       |  WHERE ((has_dup = 1 AND has_spark = 1) OR has_vector = 1)
       |    AND has_stream = 0)""".stripMargin
  }

  /** k17: BOOLEAN retrieval over the k6 at-rest inverted index — the
    * search-engine primitive BM25 ranking sits on top of: per-term doc
    * presence comes from the PROBED postings (|query terms| shard
    * directories listed, never a corpus scan), the connectives evaluate
    * as integer indicator arithmetic, and NOT is an indicator over the
    * probed set — never an anti-join against the corpus (a doc with
    * NONE of the query's terms can't satisfy the positive clause, so
    * the probe universe is complete by construction). At 100 TB the
    * query touches 4 shard directories of a write-once index. */
  def k17BooleanRetrieval(s: SparkSession, dir: String): DataFrame = {
    val root = k6PostingsRoot(s, dir)
    val post = probePostings(s, root, BoolTerms)
    val flagAggs = BoolTerms.map(t =>
      max(when(col("term") === t, 1).otherwise(0)).as(s"has_$t"))
    post.groupBy(col("id"))
      .agg(flagAggs.head, flagAggs.tail: _*)
      .filter(BoolClause)
      .select(col("id").as("doc_id"),
        col("has_dup"), col("has_spark"), col("has_vector"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[k17BooleanRetrieval]]: the shared candidate-set
    * chain ([[boolSelCtes]] — indicators + the clause), flags re-joined
    * for the output columns. */
  private val k17Sql: String =
    s"""WITH $boolSelCtes
       |SELECT f.doc_id, f.has_dup, f.has_spark, f.has_vector
       |FROM bflags f JOIN bsel b ON b.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin

  /** k18: RANKED BOOLEAN retrieval — the composition k17 and k6 imply,
    * and the shape every real search engine serves: the boolean
    * expression FILTERS the candidate set, BM25 RANKS within it, and
    * both are fed by ONE probe of the k6 write-once index. The probed
    * postings (|query terms| shard directories, never a corpus scan)
    * are persisted so a single executing parquet scan feeds (a) the
    * per-doc flag + tf aggregation — connectives as integer indicators,
    * NOT as an indicator never an anti-join (k17's argument: the probe
    * universe is complete for the positive clause by construction) —
    * and (b) the per-term df aggregate. n/Σdl ride the index's 1-row
    * stats table as a broadcast; the score is [[KeywordSearch
    * .scoreColumn]]'s IDENTICAL expression tree over the same
    * corpus-level stats as k6, so each returned doc's score is k6's
    * score restricted to the boolean result set. */
  def k18RankedBoolean(s: SparkSession, dir: String): DataFrame = {
    val root = k6PostingsRoot(s, dir)
    // ONE index probe feeds both consumers: Spark does not dedupe
    // duplicate scan subtrees, so without the persist the flag/tf
    // aggregation and the df aggregate would each scan the shards.
    // Lifecycle: read lazily by the returned plan; Bench/Verify
    // clearCache between runs.
    val post = probePostings(s, root, BoolTerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aggs = BoolTerms.map(t =>
        max(when(col("term") === t, 1).otherwise(0)).as(s"has_$t")) ++
      QueryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf")).otherwise(lit(0L))).as(s"tf_$i") }
    val byDoc = post.groupBy(col("id"), col("dli"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(BoolClause)
    // df over the probe = corpus-level df (the probe holds EVERY posting
    // of these terms); the negated term is filtered by, never scored
    val dfAggs = QueryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, lit(1L)).otherwise(lit(0L))).as(s"df_$i") }
    val dfs = post.agg(dfAggs.head, dfAggs.tail: _*)
    val stats = s.read.parquet(root.resolve("stats").toString)
    byDoc.crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .select(col("id").as("doc_id"),
        KeywordSearch.scoreColumn(QueryTerms).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** DuckDB replay of [[k18RankedBoolean]]: the k1 corpus-rescan BM25
    * chain (ending in `sc(id, score)`) joined to the shared boolean
    * candidate set ([[boolSelCtes]]) — the index-served filter-then-rank
    * must equal the from-scratch compose bit for bit. */
  private val k18Sql: String =
    s"""WITH ${KeywordSearch.bm25Ctes(QueryTerms)},
       |$boolSelCtes
       |SELECT b.doc_id, sc.score
       |FROM bsel b JOIN sc ON sc.id = b.doc_id
       |ORDER BY sc.score DESC, b.doc_id""".stripMargin

  /** k11: k1/k6's BM25 maintained ROLLING — the inverted index grown
    * per ingest wave instead of rebuilt (the Lucene segment model the
    * at-rest tier implies): each wave lands its postings as a
    * batch_id×shard segment and advances the (N, Σdl) scalars as a
    * mergeable snapshot ([[graft.streaming.StreamOps.bm25IndexBatch]]);
    * serving probes only the query terms' shard directories across the
    * segments and builds the IDENTICAL scoring expression, so the
    * answer equals k1's from-scratch corpus scan bit for bit — the
    * oracle is k1's own SQL. Completes the rolling family into the
    * search tier: dedup (c14), representatives (c17), semantic groups
    * (a5), ANN assignment (i8), anonymity counts (kAnon) — and now the
    * keyword index. */
  def k11RollingBm25(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val docs = Tables(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_k11_").toString
    try {
      (0 until 3).foreach { b =>
        StreamOps.bm25IndexBatch(
          docs.filter(pmod(col("doc_id"), lit(3L)) === b.toLong),
          "doc_id", "text", K6Shards, s"$root/state", b.toLong)
      }
      val res = StreamOps
        .bm25ServeRolling(s, s"$root/state", QueryTerms, K6Shards)
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("id"))
        .limit(TopK)
        .select(col("id").as("doc_id"), col("score"))
      // bounded (TopK rows): materialize before the temp state is deleted
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  /** k12: k7/k8's typo-tolerant resolution maintained ROLLING — the
    * deletion-variant index grown per ingest wave instead of rebuilt
    * per corpus fingerprint (k8's one gap: arriving docs didn't extend
    * it): each wave lands its vocabulary's (variant, term, df) rows as
    * a batch_id×shard segment ([[graft.streaming.StreamOps
    * .fuzzyIndexBatch]]); serving expands the query terms driver-side,
    * probes only their variants' shards across the segments, and sums
    * the per-segment df contributions — the answer equals k7's
    * from-scratch vocabulary scan exactly, so the oracle is k7's own
    * SQL (the k8 convention). The search tier's second rolling
    * artifact, beside k11's postings segments. Waves and probe are
    * planned by the size rule ([[graft.operators.SizeRule]]): a wave of
    * this corpus computes on one partition and writes its shard files
    * in parallel, and the probe runs on one partition. The state is
    * this call's own temp root, so the probe is collected once, without
    * [[graft.streaming.StreamOps.fuzzyServeRolling]]'s read pin. */
  def k12RollingFuzzy(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val docs = Tables(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_k12_").toString
    try {
      (0 until 3).foreach { b =>
        StreamOps.fuzzyIndexBatch(
          docs.filter(pmod(col("doc_id"), lit(3L)) === b.toLong),
          "doc_id", "text", K8Shards, s"$root/state", b.toLong)
      }
      val res = StreamOps
        .fuzzyServeRollingPlan(s, s"$root/state", TypoTerms, K8Shards)
        .orderBy("query_term", "matched_term")
      // bounded (a few suggestion rows): materialize before state delete
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      graft.sources.Sources.deleteRecursively(new java.io.File(root))
    }
  }

  /** The rolling search state k13/k14 (positional, latest) and k15/k16
    * (BM25 + positional, time-travel) share: built at most once per
    * corpus fingerprint (marker-last, the k8/k9 artifact discipline) by
    * a 3-wave ingest protocol that deliberately exercises the UPDATE
    * story inside the oracle rows, not just a spec — wave 0 lands a
    * third of the corpus plus a STALE one-token version of the last
    * third, wave 1 the middle third, wave 2 re-lands the last third's
    * full text, superseding the stale version
    * ([[graft.streaming.StreamOps.posIndexBatch]]'s tombstone land).
    * Any query over the live rows must therefore equal the one-shot
    * answer over the FINAL corpus — if supersede-on-land leaked one
    * stale posting or dropped a live one, the rollups diverge and the
    * rows go red. A crash mid-build leaves no marker and the rebuild
    * starts from a DELETED state dir — a multi-batch re-drive over
    * surviving later-batch snapshots is NOT a replay: wave 2's inline
    * keep-2 prune of `bm25_stats` may have already deleted batch 0's
    * snapshot, so re-landing wave 0 and pruning again would leave wave 1
    * reading prev=None and the final corpus scalars silently short by
    * wave 0's contribution. Deleting `state` first makes the rebuild
    * exactly a first run (the generic rule for any marker-guarded
    * multi-batch builder over snapshot-family state). */
  private[queries] def rollingPosState(s: SparkSession, dir: String): String = {
    import graft.streaming.StreamOps
    val root = ScaleOps.artifactRoot("k13s",
      ScaleOps.dataFingerprint(dir, Seq("documents")))
    val state = root.resolve("state").toString
    ScaleOps.buildOnce("k13s", root) {
      graft.sources.Sources.deleteRecursively(new java.io.File(state))
      val t = s.newSession()
      val docs = Tables(t, dir, "documents")
      val third = pmod(col("doc_id"), lit(3L))
      val stale = docs.filter(third === 2L)
        .withColumn("text", split(col("text"), " ").getItem(0))
      def land(batch: DataFrame, id: Long): Unit = {
        StreamOps.posIndexBatch(batch, "doc_id", "text", K9Shards, state, id)
        StreamOps.bm25IndexBatch(batch, "doc_id", "text", K6Shards, state, id)
      }
      land(docs.filter(third === 0L).unionByName(stale), 0L)
      land(docs.filter(third === 1L), 1L)
      land(docs.filter(third === 2L), 2L)
    }
    state
  }

  /** k13: k4/k10's exact-phrase search served from the ROLLING
    * positional index — the identical [[phraseRollup]] over
    * [[graft.streaming.StreamOps.posServeRolling]]'s partition-pruned
    * live probe of [[rollingPosState]]'s supersede-exercising waves. */
  def k13RollingPhrase(s: SparkSession, dir: String): DataFrame =
    phraseRollup(s, graft.streaming.StreamOps.posServeRolling(
      s, rollingPosState(s, dir), PhraseTerms, K9Shards))

  /** k14: k5/k9's NEAR/k proximity served from the SAME rolling
    * positional state as k13 — one rolling artifact, many query shapes
    * (the k9/k10 pairing replayed for the rolling form). */
  def k14RollingNear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = NearPairs.flatMap(p => Seq(p._1, p._2)).distinct
    proximityRollup(graft.streaming.StreamOps.posServeRolling(
      s, rollingPosState(s, dir), terms, K9Shards),
      NearPairs.toDF("ta", "tb"))
  }

  /** The time-travel point k15/k16 serve at: after wave 1, when thirds
    * 0 and 1 carried full text and third 2 was still the STALE
    * one-token version wave 0 landed (wave 2's superseding re-land —
    * and the tombstone it wrote — are in this point's future). */
  private[queries] val AsOfBatch = 1L

  /** DuckDB's view of the corpus as it stood at [[AsOfBatch]]. */
  private[queries] val AsOfTextExpr =
    "(CASE WHEN doc_id % 3 = 2 THEN string_split(text, ' ')[1] ELSE text END)"

  /** k15: TIME-TRAVEL keyword search — k1's BM25 served from the
    * rolling segments AS OF [[AsOfBatch]] (reproducible retrieval
    * lineage: the exact scores this query returned when batch 1 was
    * the frontier). The later segment is partition-pruned, the
    * later-landed tombstone ignored (the stale version was live
    * then), and the corpus scalars come from batch 1's stats
    * snapshot. The oracle scores the corpus each doc HAD at that
    * point — full thirds 0/1, one-token third 2. */
  def k15AsofBm25(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    StreamOps.bm25ServeRolling(s, rollingPosState(s, dir), QueryTerms,
        K6Shards, asOf = AsOfBatch)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(TopK)
      .select(col("id").as("doc_id"), col("score"))
  }

  private val k15Sql: String =
    s"""WITH ${KeywordSearch.bm25Ctes(QueryTerms, AsOfTextExpr)}
       |SELECT id AS doc_id, score FROM sc WHERE score > 0
       |ORDER BY score DESC, id LIMIT $TopK""".stripMargin

  /** k16: time-travel PHRASE search — k13's slot-aligned voting over
    * the positional rows AS OF [[AsOfBatch]], from the same artifact
    * state as k15 (one time-travel point, two index families). */
  def k16AsofPhrase(s: SparkSession, dir: String): DataFrame =
    phraseRollup(s, graft.streaming.StreamOps.posServeRolling(
      s, rollingPosState(s, dir), PhraseTerms, K9Shards, asOf = AsOfBatch))

  private val k16Sql: String =
    s"""WITH ph AS (SELECT unnest([${Phrases.map(p => s"'$p'").mkString(", ")}]) AS phrase),
       |d AS (SELECT doc_id, $AsOfTextExpr AS text FROM documents)
       |SELECT phrase, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
       |FROM d CROSS JOIN ph
       |WHERE ' ' || text || ' ' LIKE '% ' || phrase || ' %'
       |GROUP BY phrase ORDER BY phrase""".stripMargin

  /** k19 page/window geometry: top [[K19Docs]] BM25 hits, snippet
    * window of [[K19Window]] tokens. */
  private val K19Docs = 5
  private val K19Window = 8

  /** k19: SEARCH SNIPPETS — the result-page surface on top of k1's
    * ranking: for each of the top [[K19Docs]] BM25 documents, the best
    * [[K19Window]]-token window — the one covering the MOST DISTINCT
    * query terms, earliest window on ties (a deterministic total order,
    * so both engines pick the same snippet byte-for-byte). Candidate
    * windows start at query-term occurrences only (an optimal window
    * can always be shifted left onto one), so the search is |term
    * occurrences|² within a doc, never |tokens|²; the snippet text
    * joins back against only the [[K19Docs]] winning docs (broadcast).
    * Output: (doc_id, rb, start_pos, n_terms, snippet). */
  def k19SearchSnippets(s: SparkSession, dir: String): DataFrame = {
    val top = KeywordSearch
      .bm25(Tables(s, dir, "documents"), "doc_id", "text", QueryTerms)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(K19Docs)
      .withColumn("rb", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("id"))).cast("long"))
      .select(col("id").as("doc_id"), col("rb"))
    val docs = Tables(s, dir, "documents")
      .join(broadcast(top), Seq("doc_id"))
      .select(col("doc_id"), col("rb"), col("text"))
      // the tiny top-page frame feeds positions AND the snippet join:
      // pin it so the BM25 ranking runs once (bounded: K19Docs rows)
      .localCheckpoint()
    val pos = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "term")
      .filter(col("term").isin(QueryTerms: _*))
    val win = pos.as("c")
      .join(pos.as("q"),
        col("q.doc_id") === col("c.doc_id") &&
          col("q.pos") >= col("c.pos") &&
          col("q.pos") < col("c.pos") + K19Window)
      .groupBy(col("c.doc_id").as("doc_id"), col("c.pos").as("start"))
      .agg(countDistinct(col("q.term")).as("n_terms"))
    val best = win.withColumn("rn", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("n_terms").desc, col("start"))))
      .filter(col("rn") === 1)
    best.join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("rb"),
        col("start").cast("long").as("start_pos"), col("n_terms"),
        array_join(
          slice(split(col("text"), " "), col("start") + 1, lit(K19Window)),
          " ").as("snippet"))
      .orderBy("rb")
  }

  /** DuckDB replay of [[k19SearchSnippets]]: the k1 BM25 chain cut to
    * the page, k5's position derivation (0-based here — Spark's
    * posexplode convention), the window self-join, and DuckDB's
    * inclusive 1-based list slice for the snippet text. */
  private lazy val k19Sql: String = {
    val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH ${KeywordSearch.bm25Ctes(QueryTerms)},
       |top AS (
       |  SELECT id AS doc_id,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rb
       |  FROM (SELECT id, score FROM sc WHERE score > 0
       |        ORDER BY score DESC, id LIMIT $K19Docs) z),
       |toks AS (
       |  SELECT d.doc_id, top.rb, string_split(d.text, ' ') AS tk
       |  FROM documents d JOIN top ON top.doc_id = d.doc_id),
       |pos AS (
       |  SELECT doc_id, pos, term FROM (
       |    SELECT doc_id, u.p AS pos, u.t AS term FROM (
       |      SELECT doc_id, unnest(list_transform(range(0, len(tk)),
       |        i -> struct_pack(p := i, t := tk[CAST(i AS INTEGER) + 1]))) AS u
       |      FROM toks) y) z
       |  WHERE term IN ($termList)),
       |win AS (
       |  SELECT c.doc_id, c.pos AS start, COUNT(DISTINCT q.term) AS n_terms
       |  FROM pos c JOIN pos q ON q.doc_id = c.doc_id
       |    AND q.pos >= c.pos AND q.pos < c.pos + $K19Window
       |  GROUP BY c.doc_id, c.pos),
       |best AS (
       |  SELECT doc_id, start, n_terms,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY n_terms DESC, start) AS rn
       |  FROM win)
       |SELECT b.doc_id, t.rb,
       |  CAST(b.start AS BIGINT) AS start_pos,
       |  CAST(b.n_terms AS BIGINT) AS n_terms,
       |  array_to_string(tk[CAST(b.start + 1 AS INTEGER) :
       |    CAST(b.start + $K19Window AS INTEGER)], ' ') AS snippet
       |FROM best b JOIN toks t USING (doc_id)
       |WHERE rn = 1 ORDER BY rb""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("k1_bm25_topk", k1Bm25TopK, k1Sql),
    // same answer, served from the rolling segment index
    Query("k11_rolling_bm25", k11RollingBm25, k1Sql),
    // same answer, served from the rolling variant segments
    Query("k12_rolling_fuzzy", k12RollingFuzzy, k7Sql),
    // same answers, served from the rolling positional segments after
    // a stale version is superseded — the final live corpus IS the table
    Query("k13_rolling_phrase", k13RollingPhrase, k4Sql),
    Query("k14_rolling_near", k14RollingNear, k5Sql),
    // the time-travel point: scores/phrases over the corpus AS IT
    // STOOD at batch 1 (stale third still live, future tombstone ignored)
    Query("k15_asof_bm25", k15AsofBm25, k15Sql),
    Query("k16_asof_phrase", k16AsofPhrase, k16Sql),
    Query("k6_search_at_rest", k6SearchAtRest, k1Sql), // same answer, served from the index
    Query("k17_boolean_retrieval", k17BooleanRetrieval, k17Sql),
    Query("k18_ranked_boolean", k18RankedBoolean, k18Sql),
    Query("k19_search_snippets", k19SearchSnippets, k19Sql),
    Query("k4_phrase_search", k4PhraseSearch, k4Sql),
    Query("k5_proximity_search", k5ProximitySearch, k5Sql),
    Query("k2_tfidf_term", k2TfidfTerm, k2Sql),
    Query("k3_pii_redact", k3PiiRedact, k3Sql),
    Query("k7_fuzzy_search", k7FuzzySearch, k7Sql),
    // same answer, served from the persisted variant shards
    Query("k8_fuzzy_at_rest", k8FuzzyAtRest, k7Sql),
    // same answers, served from the persisted positional index
    Query("k9_proximity_at_rest", k9ProximityAtRest, k5Sql),
    Query("k10_phrase_at_rest", k10PhraseAtRest, k4Sql))
}
