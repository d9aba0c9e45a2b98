package graft.ops

import graft.data.Fixtures
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table (doc_id, text, lang, source, n_chars). All are pure
  * Column HOF expressions (split / transform / filter / aggregate) — no
  * UDFs, fully codegen-eligible, shuffle-free per-row transforms that
  * scale linearly with input splits.
  */
object TextOps {

  /** Whitespace tokens. `split` with a literal single-space pattern matches
    * DuckDB `string_split(text, ' ')` exactly on the clean corpus. */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count (op: token counting). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))

  /** BPE-ish pre-tokenizer pattern: letter runs, digit runs, single
    * non-alphanumeric marks (the GPT-2 pre-tokenizer shape reduced to
    * character classes both Java regex and RE2 interpret identically, so
    * the DuckDB twin is bit-exact). */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Subword-style token count: number of BPE-ish pre-token matches —
    * the LLM-pipeline "token budget" estimate next to the whitespace
    * count. Pure regexp_count Column, codegen'd, shuffle-free. */
  def tokenCountBpe(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(BpeTokenPattern)).cast("long").as("n_bpe_tokens"))

  /** (token count, stopword count, char length) per doc as a typed
    * kernel. The Column form (`size(filter(toks, _.isin(stopwords)))`)
    * runs the lambda INTERPRETED per token — the measured ~3 µs/call HOF
    * tax over 100 TB of text is exactly the case for a per-partition
    * loop. Split semantics mirror Spark/DuckDB `split(text, ' ')`
    * (trailing empties kept: limit -1). */
  private def tokenStats(docs: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import docs.sparkSession.implicits._
    val stop = Fixtures.stopwords.toSet
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = text.split(" ", -1)
        var nStop = 0L
        var i = 0
        while (i < toks.length) { if (stop.contains(toks(i))) nStop += 1; i += 1 }
        (id, toks.length.toLong, nStop, text.length.toLong)
      })
  }

  /** Quality scoring: token count, stopword count/ratio, mean token length.
    * Integer counts + one final division — bit-identical to the SQL twin. */
  def quality(docs: DataFrame): DataFrame =
    tokenStats(docs).toDF("doc_id", "n_tokens", "n_stop", "len")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_stop"),
        (col("n_stop") / col("n_tokens")).as("stop_ratio"),
        ((col("len") - col("n_tokens") + lit(1)) / col("n_tokens")).as("avg_token_len"))

  /** Heuristic language ID: stopword-ratio thresholds (the n-gram heuristic
    * degenerates to this on the synthetic corpus; the rule is the contract,
    * shared with the SQL twin). */
  def langId(docs: DataFrame): DataFrame = {
    val ratio = col("n_stop") / col("n_tokens")
    tokenStats(docs).toDF("doc_id", "n_tokens", "n_stop", "len")
      .select(col("doc_id"),
        when(ratio >= 0.08, "en").when(ratio >= 0.03, "en-ish").otherwise("unk")
          .as("lang_pred"))
  }

  /** Intra-document repetition ratio (the Gopher/C4-style duplicate-n-gram
    * quality signal): per document, the fraction of word k-gram windows
    * that are repeats of an earlier window. Pure per-row kernel (the
    * window set never leaves the row) → shuffle-free, linear, and the
    * ratio is exact integer arithmetic + one double division shared with
    * the SQL twin. Documents shorter than k tokens are dropped (no
    * windows → no ratio), matching the oracle's WHERE. */
  def repetition(docs: DataFrame, k: Int = Fixtures.repetitionK): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < k) Iterator.empty
        else {
          val n = toks.length - k + 1
          val seen = new java.util.HashSet[String](n * 2)
          var i = 0
          while (i < n) {
            val sb = new java.lang.StringBuilder(toks(i))
            var j = 1
            while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
            seen.add(sb.toString)
            i += 1
          }
          Iterator.single((id, n.toLong, seen.size.toLong))
        }
      })
      .toDF("doc_id", "n_grams", "n_distinct")
      .withColumn("rep_ratio", (col("n_grams") - col("n_distinct")) / col("n_grams"))
  }

  /** Benchmark-contamination detection: for every evaluation document, the
    * fraction of its distinct word k-grams that appear ANYWHERE in the
    * benchmark set (here: docs with doc_id % benchMod == 0 stand in for
    * the held-out benchmark corpus). The decontamination filter every
    * training pipeline runs before release.
    *
    * Scale shape: the benchmark's distinct-shingle set is tiny relative
    * to the corpus (benchmarks are ~10⁶ grams; the corpus is 10¹²), so it
    * BROADCASTS — the corpus side is one map-side pass whose per-doc
    * aggregation collapses in the partial agg (a document's shingles are
    * co-located by construction), leaving a one-row-per-doc shuffle. */
  def contamination(docs: DataFrame, benchMod: Long = Fixtures.benchMod,
                    k: Int = Fixtures.contamK): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < k) Iterator.empty
        else Iterator.single((id, toks.sliding(k).map(_.mkString(" ")).toVector.distinct))
      })
      .toDF("doc_id", "sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bench = base.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("hit", lit(1L))
    val out = base.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contam_ratio", col("n_hit") / col("n_grams"))
    OpUtil.finish(out, base)
  }

  /** Document fingerprint: min over 5-gram shingle hash values — a
    * 64-bit content-defined fingerprint (single-hash MinHash). Typed
    * kernel over [[graft.ops.Dedup.hash64]] (the per-shingle hash lambda
    * would run interpreted as a Column HOF). Not SQL-expressible →
    * rows-only driver check; pinned by the determinism +
    * parallelism-invariance spec. */
  def fingerprint(docs: DataFrame, k: Int = 5): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = text.split(" ", -1) // limit -1: same tokens as tokenStats / Spark split
        if (toks.length < k) Iterator.empty
        else {
          var m = Long.MaxValue
          toks.sliding(k).foreach { w =>
            val h = Dedup.hash64(w.mkString(" "))
            if (h < m) m = h
          }
          Iterator.single((id, m))
        }
      })
      .toDF("doc_id", "fingerprint")
  }

  /** Equal-fingerprint near-dup candidate PAIRS — the dataflow the per-doc
    * min-k-gram fingerprint exists for (winnowing-style dedup): documents
    * whose minimizing k-gram hash collides are near-dup candidates. The
    * fingerprint table self-joins on the 64-bit fingerprint — one compact
    * equi-join key, never all-pairs; group sizes are dup-cluster sizes, so
    * the join output is O(dup pairs), not O(n²). With `stagePath` the
    * fingerprint table is checkpointed to parquet and the DuckDB oracle
    * re-derives the SAME pairs from the staged bits (q27b) — the
    * rolling-hash kernel itself stays rows-only by nature (q27). */
  def fingerprintPairs(docs: DataFrame, k: Int = 5,
                       stagePath: Option[String] = None): DataFrame = {
    val fpRaw = fingerprint(docs, k)
    val fp = OpUtil.stageOrPersist(fpRaw, stagePath)
    // the fingerprint table has one row per document; naming the b side
    // as the broadcast side fixes the plan (both sides are one relation
    // with equal stats, and AQE's own pick flipped between runs)
    val out = fp.select(col("fingerprint"), col("doc_id").as("a_id"))
      .join(broadcast(fp.select(col("fingerprint").as("fp_b"), col("doc_id").as("b_id"))),
        col("fingerprint") === col("fp_b") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    if (stagePath.isDefined) out else OpUtil.finish(out, fp)
  }
}
