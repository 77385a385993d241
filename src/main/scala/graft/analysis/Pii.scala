package graft.analysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** PII detection and redaction (driver-extension mandate): the corpus
  * hygiene step a training-data pipeline runs before anything else —
  * find personal identifiers (emails, phone numbers, IP addresses),
  * count them per document, and rewrite the text with each span replaced
  * by a typed placeholder.
  *
  * Both operators are single-pass narrow maps (regex scan per row, no
  * shuffle except the final aggregate-free projection), so the plan is
  * embarrassingly parallel at any corpus size. The patterns live in the
  * Java-regex ∩ RE2 portable subset — no lookarounds, no backreferences —
  * so the DuckDB oracle replays the identical matches and the rows are
  * hash-gated, not rows-only.
  *
  * The fixture corpus carries no PII, so the demonstration tier INJECTS
  * deterministic doc_id-keyed spans first (the ×10-tier perturbation
  * pattern): every doc_id divisible by 5 / 7 / 11 gains an email / phone
  * / IP derived arithmetically from the id, and the oracle rebuilds the
  * same corpus in SQL. Detection and redaction are therefore exercised
  * on real positive AND negative rows — zero-match rows prove the
  * patterns do not over-fire on clean text.
  */
object Pii {

  /** Portable pattern subset (Java regex ∩ RE2). Kept anchored on word
    * boundaries so clean-token text cannot partially match.
    *
    * These are the FIXTURE-TIER patterns: the injected corpus and its
    * DuckDB replay are lowercase and in-range by construction, so the
    * hash gate pins these exact strings. Raw production text needs the
    * strict tier below.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Production-tier patterns, still in the Java ∩ RE2 portable subset
    * (no lookarounds/backrefs, so a SQL engine replays them too):
    * case-insensitive email (`(?i)` — User@Example.COM matches) and an
    * IP pattern with per-octet range bounds (999.999.999.999 and
    * version-like dotted numbers such as 1.2.3.4000 no longer match).
    */
  val EmailReStrict = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val Octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  val IpReStrict    = s"\\b$Octet\\.$Octet\\.$Octet\\.$Octet\\b"

  private def idStr: Column = col("doc_id").cast("string")

  /** The (email, IP) patterns of a tier; the phone pattern is shared. */
  private def patterns(strict: Boolean): (String, String) =
    if (strict) (EmailReStrict, IpReStrict) else (EmailRe, IpRe)

  /** The injected demonstration corpus: (doc_id, text) with
    * deterministic PII spans appended for doc_ids divisible by 5 (email),
    * 7 (phone), 11 (IP) — overlaps give multi-kind documents, everything
    * else stays clean. Pure per-row projection; replayed verbatim by
    * [[injectSql]].
    */
  def injected(spark: SparkSession, dir: String): DataFrame = planted(spark, dir, strict = false)

  /** The planted email's user prefix and domain: lowercase for the
    * fixture tier, mixed case for the strict tier.
    */
  private def emailParts(strict: Boolean): (String, String) =
    if (strict) (" contact User", "@Example.COM") else (" contact user", "@example.com")

  /** The one planting template behind [[injected]] and
    * [[injectedStrict]]; the strict tier differs only in the email's
    * casing and the decoy after the IP.
    */
  private def planted(spark: SparkSession, dir: String, strict: Boolean): DataFrame = {
    val (user, domain) = emailParts(strict)
    val ipTail =
      if (strict) Seq(lit(".9 decoy 999.999.999."), pmod(col("doc_id"), lit(1000)).cast("string"))
      else Seq(lit(".9"))
    Tables.documents(spark, dir).select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(user), idStr, lit(domain)))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" call 555-"),
          lpad(pmod(col("doc_id") * 7, lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id") * 13, lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(Seq(lit(" from 10."), pmod(col("doc_id"), lit(250)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(100)).cast("string")) ++ ipTail: _*))
        .otherwise(lit(""))).as("text"))
  }

  /** Per-document PII scan: match counts per kind plus the has_pii flag a
    * filter step keys on. Narrow single-pass regex scan.
    */
  def scan(spark: SparkSession, dir: String): DataFrame =
    scanOn(injected(spark, dir))

  /** The STRICT tier's demonstration corpus: mixed-case emails
    * (User…@Example.COM — invisible to the lowercase fixture patterns)
    * and, next to every valid IP, an out-of-range DECOY
    * (999.999.999.{id}) that the fixture IpRe would have counted. The
    * strict scan must count exactly one email / one IP on those rows —
    * the decoy staying uncounted is what hash-gates the octet bounds,
    * and the mixed-case email being counted is what hash-gates `(?i)`.
    */
  def injectedStrict(spark: SparkSession, dir: String): DataFrame =
    planted(spark, dir, strict = true)

  /** Strict-tier scan, hash-gated: production patterns over the
    * mixed-case/decoy corpus.
    */
  def scanStrict(spark: SparkSession, dir: String): DataFrame =
    scanOn(injectedStrict(spark, dir), strict = true)

  /** The raw-corpus scan, memoized: consumed by pipeline_curate and
    * pipeline_source_report in one registry run.
    */
  def scanRaw(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "pii:scan_raw")(
      scanOn(Tables.documents(spark, dir)))

  /** The scan over an arbitrary (doc_id, text) frame. `strict = true`
    * (the production entry point for RAW text) swaps in the
    * case-insensitive email and octet-bounded IP patterns; the default
    * keeps the fixture-tier patterns the hash gate pins. Same plan either
    * way: a single-pass narrow regex projection.
    */
  def scanOn(docs: DataFrame, strict: Boolean = false): DataFrame = {
    val (em, ip) = patterns(strict)
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(em)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(ip)).cast("long").as("n_ips"))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ips") > 0)
  }

  /** Redaction: every matched span replaced by its typed placeholder,
    * email → phone → IP in a fixed order (the patterns are mutually
    * non-overlapping — phone needs dashes, IP needs dotted digits, email
    * needs '@' — so the order is documentation, not semantics). Output
    * carries md5(redacted) rather than the full rewritten corpus so the
    * hash gate checks every byte of the rewrite without the result set
    * being the corpus itself.
    */
  def redact(spark: SparkSession, dir: String): DataFrame =
    redactOn(injected(spark, dir))

  def redactOn(docs: DataFrame, strict: Boolean = false): DataFrame = {
    val (em, ip) = patterns(strict)
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), lit(em), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")),
      lit(ip), lit("<IP>"))
    docs.select(col("doc_id"), md5(red).as("fp"),
      (regexp_count(col("text"), lit(em)) +
        regexp_count(col("text"), lit(PhoneRe)) +
        regexp_count(col("text"), lit(ip))).cast("long").as("n_redacted"))
  }

  // ------------------------------------------------------------ Luhn tier

  /** Luhn-sum SQL over the first `n` digits of a string column expression
    * — for a digit at 1-based position i of a 16-length card number,
    * every ODD i is doubled (9-wrapped): with an even total length the
    * doubled digits counted from the right (2nd, 4th, …) are exactly the
    * odd left positions, and a 15-digit prefix occupies positions 1..15
    * of the final number so the same parity rule prices its check digit.
    * Pure integer arithmetic — both engines compute identical sums.
    * `fn` abstracts the engine dialect: Spark folds with
    * aggregate/transform/sequence, DuckDB with
    * list_reduce/list_transform/generate_series (same element lambda).
    */
  private[graft] def luhnSum(col: String, n: Int, spark: Boolean): String = {
    // Spark CAST('' AS INT) yields NULL (ansi off); DuckDB CAST throws —
    // TRY_CAST restores the NULL-on-empty semantics the no-match guard
    // relies on (false AND NULL = false in both engines)
    val digit =
      if (spark) s"CAST(substr($col, i, 1) AS INT)"
      else s"TRY_CAST(substr($col, i, 1) AS INTEGER)"
    val elem =
      s"""CASE WHEN i % 2 = 1 THEN
            CASE WHEN 2 * $digit > 9 THEN 2 * $digit - 9 ELSE 2 * $digit END
          ELSE $digit END"""
    if (spark)
      s"aggregate(transform(sequence(1, $n), i -> $elem), 0, (a, x) -> a + x)"
    else
      s"list_reduce(list_transform(generate_series(1, $n), i -> $elem), (a, x) -> a + x)"
  }

  /** The card-tier injected corpus: doc_ids divisible by 13 gain a
    * 16-digit card number whose 15-digit body derives from the id
    * (Knuth-hash modulo, zero-padded) and whose 16th digit is the TRUE
    * Luhn check digit for even ids but check+5 (mod 10, never equal) for
    * odd ids — so the corpus carries deterministic valid AND invalid
    * cards, and a validator that ignored the checksum would over-count
    * exactly the odd-id half. Replayed digit-for-digit by the oracle.
    */
  private def injectCardExpr(spark: Boolean): String = {
    val varchar = if (spark) "STRING" else "VARCHAR"
    val base = s"lpad(CAST((doc_id * 2654435761) % 1000000000000000 AS $varchar), 15, '0')"
    val s15 = luhnSum(base, 15, spark)
    s"""text || CASE WHEN doc_id % 13 = 0
          THEN ' card ' || $base ||
               CAST(CASE WHEN doc_id % 2 = 0
                         THEN (10 - $s15 % 10) % 10
                         ELSE ((10 - $s15 % 10) % 10 + 5) % 10 END AS $varchar)
          ELSE '' END"""
  }

  private val CardRe = "\\b\\d{16}\\b"

  /** Card scan with checksum validation: candidates from the 16-digit
    * regex, `luhn_valid` from the exact checksum over the extracted
    * match. Narrow single-pass like the other tiers; the hash gate pins
    * that exactly the even-id cards validate (checksum semantics, not
    * just pattern match).
    */
  def scanLuhn(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(injectCardExpr(spark = true)).as("text"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(CardRe)).cast("long").as("n_candidates"),
        regexp_extract(col("text"), CardRe, 0).as("cand"))
      .select(col("doc_id"), col("n_candidates"),
        (col("n_candidates") > 0 &&
          expr(s"${luhnSum("cand", 16, spark = true)} % 10 = 0")).as("luhn_valid"))

  // ---------------------------------------------------------------- oracle

  /** The injection replayed in DuckDB — identical arithmetic, identical
    * concatenation order, the strict tier's email casing and IP decoy
    * included.
    */
  private def injectSql(strict: Boolean): String = {
    val (user, domain) = emailParts(strict)
    val ipTail =
      if (strict) "'.9 decoy 999.999.999.' || CAST(doc_id % 1000 AS VARCHAR)" else "'.9'"
    s"""SELECT doc_id,
         text ||
         CASE WHEN doc_id % 5 = 0
              THEN '$user' || CAST(doc_id AS VARCHAR) || '$domain'
              ELSE '' END ||
         CASE WHEN doc_id % 7 = 0
              THEN ' call 555-' ||
                   lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') ||
                   '-' ||
                   lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
              ELSE '' END ||
         CASE WHEN doc_id % 11 = 0
              THEN ' from 10.' || CAST(doc_id % 250 AS VARCHAR) ||
                   '.' || CAST(doc_id % 100 AS VARCHAR) || $ipTail
              ELSE '' END AS text
       FROM documents"""
  }

  /** [[scanOn]] over the tier's injected corpus, replayed in DuckDB.
    * The same pattern strings serve both engines: DuckDB single-quoted
    * literals pass backslashes through verbatim, and the patterns stay
    * in the Java-regex ∩ RE2 subset (inline (?i) and non-capturing
    * groups included).
    */
  private def scanSql(strict: Boolean): String = {
    val (em, ip) = patterns(strict)
    s"""WITH inj AS (${injectSql(strict)})
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
               len(regexp_extract_all(text, '$em')) +
               len(regexp_extract_all(text, '$PhoneRe')) +
               len(regexp_extract_all(text, '$ip')) > 0 AS has_pii
        FROM inj"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pii_scan"        -> ((s, d) => scan(s, d)),
    "pii_scan_strict" -> ((s, d) => scanStrict(s, d)),
    "pii_redact"      -> ((s, d) => redact(s, d)),
    "pii_luhn"        -> ((s, d) => scanLuhn(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "pii_scan" -> scanSql(strict = false),
    "pii_scan_strict" -> scanSql(strict = true),
    "pii_luhn" ->
      s"""WITH inj AS (SELECT doc_id, ${injectCardExpr(spark = false)} AS text
                       FROM documents),
          c AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '$CardRe')) AS BIGINT) AS n_candidates,
                  regexp_extract(text, '$CardRe') AS cand
                FROM inj)
          SELECT doc_id, n_candidates,
                 (n_candidates > 0 AND
                  ${luhnSum("cand", 16, spark = false)} % 10 = 0) AS luhn_valid
          FROM c""",
    "pii_redact" ->
      s"""WITH inj AS (${injectSql(strict = false)})
          SELECT doc_id,
                 md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '$EmailRe', '<EMAIL>', 'g'),
                   '$PhoneRe', '<PHONE>', 'g'),
                   '$IpRe', '<IP>', 'g')) AS fp,
                 CAST(len(regexp_extract_all(text, '$EmailRe')) +
                      len(regexp_extract_all(text, '$PhoneRe')) +
                      len(regexp_extract_all(text, '$IpRe')) AS BIGINT) AS n_redacted
          FROM inj""",
  )
}
