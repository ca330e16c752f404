package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenization as a relational operator (Sennrich,
  * Haddow, Birch 2016, "Neural Machine Translation of Rare Words with
  * Subword Units", arXiv:1508.07909 — the standard subword algorithm
  * behind GPT-2/BERT-style vocabularies; public paper). BPE token
  * counts — not whitespace counts — are what gate sequence packing
  * ([[CorpusSplit.pack]]) and mixture budgets, so the engine carries a
  * true merges-table tokenizer next to the fast regex approximation
  * ([[TextFunctions.tokenCount]]).
  *
  * REPRESENTATION. A word is spelled as its characters each preceded by
  * one space (`"the"` → `" t h e"`); words join with `'|'`. Applying a
  * merge `(a, b)` is then a single global string replace of `" a b"` →
  * `" ab"`: the leading space anchors `a` at a token boundary (so
  * `"ab c"` can never match inside a longer token `"xab"`), the `'|'`
  * word separator blocks cross-word merges, and left-to-right
  * non-overlapping replacement is exactly BPE's scan order. The token
  * count is simply the number of spaces left. Every step — the spelling,
  * each merge, the count — is one codegen'd `regexp_replace`/`length`
  * expression evaluated identically by Spark and DuckDB (RE2-compatible
  * patterns over `[a-z0-9_]` symbols), so the full tokenizer is under a
  * bit-exact oracle against a pinned merges table.
  *
  * SCALE SHAPES. Applying N merges is a pure projection — a chain of N
  * regex replaces at scan speed, no shuffle, no state. LEARNING merges
  * iterates on the VOCABULARY frame — (distinct word, count), built by
  * one corpus aggregation and orders of magnitude smaller than the
  * corpus — with one map-side-combined pair-count aggregate plus one
  * `limit 1` collect per merge (the classic BPE trainer loop, each
  * iteration a bounded Spark job; the corpus itself is never rescanned).
  *
  * North-star extension beyond the reference surface (SURVEY.md §7.6).
  */
object Bpe {

  /** Spell a word-token array as the merge-ready string:
    * `" t h e| q u i c k"…`. Empty docs become the empty string. */
  private[text] def spell(words: Column): Column =
    array_join(transform(words,
      x => regexp_replace(x, "(.)", " $1")), "|")

  /** Apply `merges` in order to a spelled string. */
  private[text] def applyMerges(spelled: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(spelled) { case (s, (a, b)) =>
      regexp_replace(s, s" $a $b", s" $a$b")
    }

  /** BPE token count of a raw text column under `merges`: number of
    * token-boundary spaces after all merges are applied. */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    val s = applyMerges(spell(CorpusOps.words(text)), merges)
    (length(s) - length(translate(s, " ", ""))).cast("long")
  }

  /** DuckDB mirror of [[tokenCount]] over a word-list SQL expression
    * `l` (as produced by the repo's `wCte`): same spelling, same merge
    * chain, same space count. */
  def tokenCountSql(l: String, merges: Seq[(String, String)]): String = {
    val spelled = s"array_to_string(list_transform($l, " +
      s"""x -> regexp_replace(x, '(.)', ' \\1', 'g')), '|')"""
    val merged = merges.foldLeft(spelled) { case (s, (a, b)) =>
      s"regexp_replace($s, ' $a $b', ' $a$b', 'g')"
    }
    s"(length($merged) - length(replace($merged, ' ', '')))"
  }

  /** A deterministic demo merges table (common English pair merges,
    * hierarchical — later merges consume earlier outputs), pinned so
    * the q_token_bpe oracle is reproducible. Production vocabularies
    * come from [[learnMerges]]. */
  val pinnedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("o", "n"), ("e", "r"), ("r", "e"), ("o", "r"), ("e", "n"),
    ("a", "t"), ("e", "s"), ("o", "u"), ("i", "t"), ("i", "s"),
    ("o", "f"), ("t", "o"), ("a", "s"), ("h", "e"), ("n", "g"),
    ("in", "g"), ("e", "d"), ("a", "l"), ("s", "t"))

  /** Learn `numMerges` merge rules from the corpus — the reference BPE
    * trainer, distributed: one corpus pass builds the (word, count)
    * vocabulary; each iteration counts adjacent token pairs weighted by
    * word frequency (map-side-combined aggregate over the vocabulary
    * frame), picks the most frequent pair (ties broken lexicographically
    * for determinism — a `limit 1` top-k, never a global sort), and
    * applies it as one regex replace. Stops early when no pair repeats. */
  def learnMerges(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): Seq[(String, String)] = {
    // localCheckpoint (not persist) per round: a cached frame keeps its
    // FULL logical plan, so 24 rounds of chained replaces made every
    // round's pair-count query re-render a plan that grew round over
    // round (AQE's explainString OOMed the driver on the sf corpus);
    // checkpointing cuts lineage to the materialized blocks — the same
    // bounded-iteration pattern as DupClusters.
    var vocab = docs
      .select(explode(CorpusOps.words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(spell(array(col("w"))).as("s"), col("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.Buffer.empty[(String, String)]
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      val toks = filter(split(col("s"), " "), x => length(x) > 0)
      val pairs = vocab.select(col("n"), toks.as("t"))
        .where(size(col("t")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(t[i - 1] AS a, t[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .where(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (pairs.isEmpty) done = true
      else {
        val (a, b) = (pairs(0).getString(0), pairs(0).getString(1))
        merges += ((a, b))
        // checkpoint every 4th round, not every round: a materialize
        // job per merge was ~1/3 of the loop's scheduler round-trips,
        // while a ≤4-replace chain keeps the plan depth bounded (the
        // OOM this guards against came from UNBOUNDED chaining); the
        // chained replaces compose to the identical vocabulary text
        vocab = vocab
          .select(regexp_replace(col("s"), s" $a $b", s" $a$b").as("s"),
            col("n"))
        if ((i + 1) % 4 == 0) vocab = vocab.localCheckpoint()
      }
      i += 1
    }
    merges.toSeq
  }
}
