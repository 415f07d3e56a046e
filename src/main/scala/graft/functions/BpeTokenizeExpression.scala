package graft.functions

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic subword (BPE) tokenization — the real-token accounting
  * layer the training-data budget operators run on (chunking, packing,
  * token budgets count what the model will actually see, not
  * whitespace words).
  *
  * Semantics (canonical BPE encode, Sennrich et al. 2016):
  *  1. normalize: strip the 0x1F sentinel, lowercase, split on \s+;
  *  2. each word starts as its character sequence;
  *3. apply the fixed [[Bpe.Merges]] table IN RANK ORDER, each merge
  *    exhaustively left-to-right within the word (a merged token is
  *    eligible for later-ranked merges — "t a b l e" → "ta b l e" →
  *    … → "table");
  *  4. the document's token stream is the word-order concatenation.
  *
  * The merge table is a CONSTANT inlined in both engines (the
  * seeded-quantizer discipline, cf. ParseIntJsExpression's pinned
  * parity table): Spark evaluates it in this kernel, and the DuckDB
  * oracle replays the identical merge list in pure SQL
  * ([[Bpe.oracleToksCtes]] — one `replace()` pass per merge over a
  * 0x1F-delimited token string, which is exactly left-to-right
  * non-overlapping application). Production would broadcast a learned
  * merges table; the semantics and the plan shape are identical.
  *
  * Scale posture: one narrow codegen'd map per row, no shuffle, no
  * driver state; cost is O(len(text) × |merges|) with small constants.
  */
object Bpe {

  /** Merge rules in rank order (first = learned earliest = applied
    * first). Tuned to the synthetic corpus vocabulary so common words
    * collapse to single tokens through multi-step cascades. */
  val Merges: Array[(String, String)] = Array(
    // "table", "value", "the": 4-deep cascades
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("t", "h"), ("th", "e"),
    // "spark" before ("p","a") so the s-p merge can fire
    ("s", "p"), ("sp", "a"), ("spa", "r"), ("spar", "k"),
    ("p", "a"), ("pa", "r"), ("par", "t"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("f", "a"), ("fa", "s"), ("fas", "t"),
    ("r", "o"), ("ro", "w"),
    ("k", "e"), ("ke", "y"),
    ("m", "e"), ("me", "r"), ("mer", "g"), ("merg", "e"),
    ("b", "a"), ("ba", "t"), ("bat", "c"), ("batc", "h"),
    ("s", "o"), ("so", "r"), ("sor", "t"),
    ("l", "i"), ("li", "n"), ("lin", "e"),
    ("w", "i"), ("wi", "n"), ("win", "d"), ("wind", "o"), ("windo", "w"),
    ("s", "l"), ("sl", "o"), ("slo", "w"),
    ("a", "g"), ("ag", "g"),
    // generic English bigrams mop up the tail
    ("i", "n"), ("e", "r"), ("o", "n"), ("r", "e"), ("e", "n"),
    ("e", "s"), ("s", "t"), ("o", "u"), ("a", "r"), ("a", "n"))

  /** BPE-encode one word under an arbitrary merge table: chars, then
    * every merge in rank order, each applied exhaustively
    * left-to-right. */
  private[functions] def encodeWordWith(word: String,
                                        merges: Array[(String, String)],
                                        out: ArrayBuffer[String]): Unit = {
    var toks = new ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      toks += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    var m = 0
    while (m < merges.length && toks.length > 1) {
      val (a, b) = merges(m)
      val nt = new ArrayBuffer[String](toks.length)
      var j = 0
      while (j < toks.length) {
        val t = toks(j)
        if (nt.nonEmpty && nt(nt.length - 1) == a && t == b)
          nt(nt.length - 1) = a + b
        else nt += t
        j += 1
      }
      toks = nt
      m += 1
    }
    out ++= toks
  }

  /** Whole-document kernel: NULL in → NULL out; whitespace-only text →
    * empty token array (matches the oracle's filtered split). */
  def compute(s: UTF8String): GenericArrayData = computeWith(s, Merges)

  /** [[compute]] under an arbitrary merge table — the serving kernel
    * for corpus-LEARNED merges ([[BpeFit]]); byte-identical semantics,
    * only the table differs. */
  def computeWith(s: UTF8String, merges: Array[(String, String)]): GenericArrayData = {
    if (s == null) return null
    val text = s.toString.replace("\u001f", "").toLowerCase(Locale.ROOT)
    val out = new ArrayBuffer[String]()
    text.split("\\s+").foreach { w => if (w.nonEmpty) encodeWordWith(w, merges, out) }
    new GenericArrayData(out.map(UTF8String.fromString).toArray[Any])
  }

  /** Learn a merge table from a word-frequency histogram — classic BPE
    * training (Sennrich et al. 2016): every word starts as its
    * character sequence; each round counts adjacent symbol pairs
    * across all word types (weighted by word frequency, occurrences
    * counted LEFT-TO-RIGHT NON-OVERLAPPING so a pair's count equals
    * the number of replacements the merge would actually perform —
    * "aaa" holds one (a,a), not two) and merges the most frequent
    * pair, ties broken lexicographically on (a, b) — fully
    * deterministic. Training runs over the word-TYPE histogram, never
    * the corpus: the distributed side of a fit reduces the corpus to a
    * bounded top-M word-frequency table in one shuffle, and this
    * driver-side loop touches only that (the exact shape production
    * BPE trainers use). Stops early when no pair repeats (frequency
    * < 2 — a singleton merge buys nothing). */
  def train(wordFreqs: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = wordFreqs.map { case (w, f) =>
      val cs = new ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        cs += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      (cs.toArray, f)
    }.toArray
    val merges = new ArrayBuffer[(String, String)](numMerges)
    var continue = true
    while (merges.length < numMerges && continue) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (toks, f) =>
        var j = 0
        while (j < toks.length - 1) {
          val p = (toks(j), toks(j + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          // non-overlapping within a run of equal symbols: "aaa" is one
          // (a,a) occurrence, exactly what one replace pass performs
          j += (if (j + 2 <= toks.length - 1 && toks(j) == toks(j + 1) &&
                    toks(j + 1) == toks(j + 2)) 2 else 1)
        }
      }
      val repeated = counts.filter(_._2 >= 2L)
      if (repeated.isEmpty) continue = false
      else {
        val (pair, _) = repeated.minBy { case ((a, b), n) => (-n, a, b) }
        merges += pair
        words = words.map { case (toks, f) =>
          if (toks.length < 2) (toks, f)
          else {
            val nt = new ArrayBuffer[String](toks.length)
            var j = 0
            while (j < toks.length) {
              if (nt.nonEmpty && nt(nt.length - 1) == pair._1 && toks(j) == pair._2)
                nt(nt.length - 1) = pair._1 + pair._2
              else nt += toks(j)
              j += 1
            }
            (nt.toArray, f)
          }
        }
      }
    }
    merges.toSeq
  }

  /** A merge table as a DuckDB VALUES list: `(0,'t','a'),(1,…)` —
    * single quotes doubled, so corpus-learned symbols containing
    * apostrophes cannot break the literal. */
  private def mergesValuesSqlFor(merges: Seq[(String, String)]): String = {
    def q(s: String) = s.replace("'", "''")
    // an empty fit (degenerate corpus) still needs one syntactically
    // valid row; rank -1 is unreachable (the pass CTE starts at i = 0)
    if (merges.isEmpty) "(-1,'','')"
    else merges.zipWithIndex
      .map { case ((a, b), i) => s"($i,'${q(a)}','${q(b)}')" }
      .mkString(",")
  }

  /** WITH-clause CTE chain (requires `WITH RECURSIVE` at the head of
    * the statement) ending in `bpe_toks(doc_id, toks)` — the per-doc
    * BPE token list of `documents.text`, computed entirely in DuckDB.
    *
    * Encoding trick: the token sequence lives in ONE string with 0x1F
    * separators — token boundary = 2 separators, word gap = 4 (so no
    * merge can cross a word), string ends = 2. Applying merge (a,b)
    * exhaustively left-to-right is then a single non-overlapping
    * `replace(s, 0x1F·a·0x1F0x1F·b·0x1F → 0x1F·ab·0x1F)` — the outer
    * separators of the pattern keep full-token alignment (a pattern
    * can't start mid-token) and each replacement reinstates the
    * boundary halves it consumed. A recursive CTE steps rank i → i+1;
    * the final split-and-filter recovers the token list. */
  def oracleToksCtes: String = oracleToksCtesFor(Merges.toSeq)

  /** [[oracleToksCtes]] under an arbitrary merge table — the
    * dynamic-oracle form: Verify inlines the corpus-FITTED merges at
    * dump time (the q_knn_ivf_fit discipline), so serving under the
    * learned tokenizer is replayed move-for-move in DuckDB. */
  def oracleToksCtesFor(merges: Seq[(String, String)]): String =
    s"""bpe_merges AS (
       |  SELECT i, chr(31)||a||chr(31)||chr(31)||b||chr(31) AS pat,
       |         chr(31)||a||b||chr(31) AS rep
       |  FROM (VALUES ${mergesValuesSqlFor(merges)}) AS m(i,a,b)),
       |bpe_init AS (
       |  SELECT doc_id,
       |    replace(chr(31)||chr(31) || regexp_replace(
       |        regexp_replace(lower(replace(text, chr(31), '')), '\\s+', ' ', 'g'),
       |        '(.)', '\\1'||chr(31)||chr(31), 'g'),
       |      chr(31)||' '||chr(31), chr(31)||chr(31)) AS s
       |  FROM documents),
       |bpe_pass(doc_id, i, s) AS (
       |  SELECT doc_id, 0, s FROM bpe_init
       |  UNION ALL
       |  SELECT p.doc_id, p.i + 1, replace(p.s, m.pat, m.rep)
       |  FROM bpe_pass p JOIN bpe_merges m ON m.i = p.i
       |  WHERE p.i < ${merges.length}),
       |bpe_toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split(s, chr(31)||chr(31)), x -> x <> '') AS toks
       |  FROM bpe_pass WHERE i = ${merges.length})""".stripMargin
}

/** Native Catalyst expression: STRING → ARRAY<STRING> of BPE subword
  * tokens. Codegen calls the static kernel so the surrounding project
  * stays inside whole-stage codegen. */
case class BpeTokenize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_tokenize requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_tokenize"

  override protected def nullSafeEval(input: Any): Any =
    Bpe.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("bpeToks")
      s"""
        org.apache.spark.sql.catalyst.util.GenericArrayData $r =
          graft.functions.Bpe.compute($c);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): BpeTokenize =
    copy(child = newChild)
}

object BpeTokenizeColumn {
  def apply(c: Column): Column =
    ColumnBridge.column(BpeTokenize(ColumnBridge.expression(c)))
}

/** [[BpeTokenize]] under a LEARNED merge table: the fitted merges ride
  * into generated code as a reference object (the standard Catalyst
  * treatment of model state — a broadcast-sized constant per task,
  * never a per-row closure), so the kernel stays inside whole-stage
  * codegen with zero per-row indirection beyond one array read. */
case class BpeTokenizeLearned(child: Expression,
                              merges: Seq[(String, String)]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_tokenize_learned requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_tokenize_learned"

  @transient private lazy val table: Array[(String, String)] = merges.toArray

  override protected def nullSafeEval(input: Any): Any =
    Bpe.computeWith(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tableRef = ctx.addReferenceObj("bpeMerges", table,
        "scala.Tuple2[]")
      val r = ctx.freshName("bpeToks")
      s"""
        org.apache.spark.sql.catalyst.util.GenericArrayData $r =
          graft.functions.Bpe.computeWith($c, (scala.Tuple2[]) $tableRef);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): BpeTokenizeLearned =
    copy(child = newChild)
}

object BpeTokenizeLearnedColumn {
  def apply(c: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeTokenizeLearned(ColumnBridge.expression(c), merges))
}
