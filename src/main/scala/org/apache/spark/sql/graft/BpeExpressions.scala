package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016 / the GPT-2 `bpe()`
  * loop): per word, repeatedly merge the lowest-rank adjacent token pair,
  * all occurrences left-to-right, until no ranked pair remains. The rank
  * table is a plan-time constant built once on the driver and shipped with
  * the expression the [[TileKernelExpression]] template binds into
  * generated code, so tokenization runs inside whole-stage codegen with
  * zero per-row allocation beyond the token array itself — the 100 TB
  * "token count / token sequence" shape (the reference's pipelines count
  * tokens with an external tokenizer process; here it is a Catalyst
  * expression like any other).
  *
  * The driver's oracle replays the identical algorithm in ANSI SQL by
  * applying merges IN RANK ORDER, one string-replace pass per rule, over a
  * `' c '`-wrapped character string. For a VALID merges table — each rule's
  * operands are single characters or outputs of strictly earlier rules,
  * enforced by [[BpeKernel.buildRanks]] — the two are provably identical:
  * a merge of rule m creates only pairs involving its output token, whose
  * rules (if any) rank after m, so once rules 1..k have been applied in
  * order no pair of rank <= k can reappear, which is exactly the greedy
  * loop's invariant.
  */
object BpeKernel {

  /** Rule/operand separators for specs built from arbitrary corpus-learned
    * tokens (US/RS control chars — cannot appear in text words, enforced
    * below). The human-writable comma/space encoding stays supported for
    * SQL literals whose operands contain neither. */
  final val OpSep = '\u001f'
  final val RuleSep = '\u001e'

  /** Parse + validate a merges spec: rules comma-separated with
    * space-separated operands (the SQL-literal form), or RS-separated with
    * US-separated operands (the robust form [[graft.functions
    * .GraftFunctions.bpe_tokens]] emits — needed when learned operands may
    * contain ',' or ' '). Rank = position. Rejects tables whose operands
    * are neither single characters nor earlier outputs (those are the
    * tables for which greedy-by-rank and in-order-pass application can
    * diverge, i.e. nothing a real BPE trainer emits). */
  def buildRanks(spec: String): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    if (spec.isEmpty) return m // zero-rule table = character tokenization
    val robust = spec.indexOf(RuleSep) >= 0 || spec.indexOf(OpSep) >= 0
    val (ruleSep, opSep) = if (robust) (RuleSep, OpSep) else (',', ' ')
    val outputs = new java.util.HashSet[String]()
    var rank = 0
    spec.split(ruleSep).foreach { rule =>
      val ops = rule.split(opSep)
      require(ops.length == 2, s"BPE merge rule needs two operands: '$rule'")
      ops.foreach { op =>
        // tokens come from space-split words, so a space-containing operand
        // could never match — and it would make the space-joined rank key
        // ambiguous. Reject it loudly. (length counts code points: a single
        // supplementary character is a valid one-char operand.)
        require(op.nonEmpty && !op.contains(' '),
          s"invalid BPE merges table: operand '$op' of rule $rank is empty " +
            "or contains a space (unmatchable: words are space-split)")
        require(op.codePointCount(0, op.length) == 1 || outputs.contains(op),
          s"invalid BPE merges table: operand '$op' of rule $rank is " +
            "neither a single character nor the output of an earlier rule")
      }
      val key = ops(0) + " " + ops(1)
      require(!m.containsKey(key), s"duplicate BPE merge rule '$key'")
      m.put(key, rank)
      outputs.add(ops(0) + ops(1))
      rank += 1
    }
    m
  }

  /** Greedy BPE over one word: start from single CODE POINTS (splitting at
    * UTF-16 units would tear a supplementary character into lone
    * surrogates that UTF8String encodes as '?', corrupting tokens and
    * diverging from the oracle's per-code-point replay), merge the
    * lowest-rank pair (all left-to-right non-overlapping occurrences)
    * until no ranked pair remains. The winner is tracked by INDEX, so the
    * scan allocates nothing beyond the probe keys. O(len^2) worst case on
    * tiny words — the per-row cost is bounded by word length, not corpus
    * size. */
  def encodeWord(word: String, ranks: java.util.HashMap[String, Integer],
      out: java.util.ArrayList[UTF8String]): Unit = {
    if (word.isEmpty) return
    var n = word.codePointCount(0, word.length)
    var toks = new Array[String](n)
    var ci = 0
    var i = 0
    while (ci < word.length) {
      val w = Character.charCount(word.codePointAt(ci))
      toks(i) = word.substring(ci, ci + w)
      ci += w
      i += 1
    }
    var done = false
    while (!done && n > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      i = 0
      while (i < n - 1) {
        val r = ranks.get(toks(i) + " " + toks(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        val x = toks(bestIdx)
        val y = toks(bestIdx + 1)
        val next = new Array[String](n)
        var w = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && toks(i) == x && toks(i + 1) == y) {
            next(w) = x + y; w += 1; i += 2
          } else { next(w) = toks(i); w += 1; i += 1 }
        }
        toks = next; n = w
      }
    }
    i = 0
    while (i < n) { out.add(UTF8String.fromString(toks(i))); i += 1 }
  }

  /** Whole-text entry point used from codegen: words split on U+0020 ONLY
    * (matching the corpus convention and the oracle's string_split — a
    * tab or newline stays inside its word and tokenizes as a character),
    * each BPE-encoded, token arrays concatenated in document order. */
  def encodeText(text: UTF8String, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    val s = text.toString
    var start = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) encodeWord(s.substring(start, i), ranks, out)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}

/** WordPiece tokenizer (Wu et al. 2016's BERT variant, as implemented by
  * the huggingface `WordpieceTokenizer`): per word, GREEDY LONGEST-MATCH
  * — the longest vocab piece matching at the current position wins;
  * word-internal positions probe with the `##` continuation prefix; a
  * position with no match turns the WHOLE word into `[UNK]` (as does a
  * word longer than 100 code points). Word-initial probes use the raw
  * substring, so a vocab piece literally starting with "##" can match a
  * word that literally starts with "##" — huggingface's exact lookup
  * semantics, mirrored by the oracle. Same plan-time-constant +
  * whole-stage-codegen shape as [[BpeKernel]]. */
object WordPieceKernel {

  final val Unk = "[UNK]"
  final val MaxWordCp = 100

  /** Vocab spec: pieces separated by [[BpeKernel.RuleSep]] (US/RS-free,
    * space-safe — learned pieces may contain anything else). */
  def buildVocab(spec: String): java.util.HashSet[String] = {
    val v = new java.util.HashSet[String]()
    if (spec.isEmpty) return v
    spec.split(BpeKernel.RuleSep).foreach { p =>
      require(p.nonEmpty && !p.contains(' '),
        s"invalid WordPiece vocab: piece '$p' is empty or contains a space")
      require(!(p.startsWith("##") && p.length == 2),
        "invalid WordPiece vocab: bare '##' continuation piece")
      v.add(p)
    }
    v
  }

  def encodeWord(word: String, vocab: java.util.HashSet[String],
      out: java.util.ArrayList[UTF8String]): Unit = {
    if (word.isEmpty) return
    if (word.codePointCount(0, word.length) > MaxWordCp) {
      out.add(UTF8String.fromString(Unk)); return
    }
    val pieces = new java.util.ArrayList[String]()
    var start = 0
    while (start < word.length) {
      var end = word.length
      var cur: String = null
      while (end > start && cur == null) {
        val sub0 = word.substring(start, end)
        val sub = if (start > 0) "##" + sub0 else sub0
        if (vocab.contains(sub)) cur = sub
        else {
          end -= 1
          // never split a surrogate pair: back off to the boundary
          if (end > start && Character.isLowSurrogate(word.charAt(end))) end -= 1
        }
      }
      if (cur == null) { out.add(UTF8String.fromString(Unk)); return }
      pieces.add(cur)
      start += (if (start > 0) cur.length - 2 else cur.length)
    }
    var i = 0
    while (i < pieces.size()) {
      out.add(UTF8String.fromString(pieces.get(i))); i += 1
    }
  }

  /** Words split on U+0020 only, like [[BpeKernel.encodeText]]. */
  def encodeText(text: UTF8String, vocab: java.util.HashSet[String]): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    val s = text.toString
    var start = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) encodeWord(s.substring(start, i), vocab, out)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}

/** `rq_wordpiece_tokens(text)` with a plan-time vocab — WordPiece token
  * array under greedy longest-match (see [[WordPieceKernel]]). */
case class WordPieceTokens(child: Expression, vocabSpec: String)
  extends UnaryTileKernel {

  override def prettyName: String = "rq_wordpiece_tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // any input type reaches checkInputDataTypes, uncast
  override def inputTypes: Seq[AbstractDataType] = Seq(AnyDataType)

  // built on the driver and shipped with the plan (see buildPlanTimeState)
  private lazy val vocab: java.util.HashSet[String] = WordPieceKernel.buildVocab(vocabSpec)
  override protected def buildPlanTimeState(): Unit = vocab

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"rq_wordpiece_tokens expects STRING, got ${child.dataType.catalogString}")
    else
      scala.util.Try(vocab) match {
        case scala.util.Success(_) => TypeCheckResult.TypeCheckSuccess
        case scala.util.Failure(e) =>
          TypeCheckResult.TypeCheckFailure(s"invalid WordPiece vocab: ${e.getMessage}")
      }
  }

  def compute(t: Any): Any = WordPieceKernel.encodeText(t.asInstanceOf[UTF8String], vocab)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `rq_bpe_tokens(text, 'x y,ab c,...')` — BPE token array for `text`
  * under the given merges table (rank = list position). */
case class BpeTokens(child: Expression, mergesSpec: String)
  extends UnaryTileKernel {

  override def prettyName: String = "rq_bpe_tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // any input type reaches checkInputDataTypes, uncast
  override def inputTypes: Seq[AbstractDataType] = Seq(AnyDataType)

  // built on the driver and shipped with the plan (see buildPlanTimeState)
  private lazy val ranks: java.util.HashMap[String, Integer] = BpeKernel.buildRanks(mergesSpec)
  override protected def buildPlanTimeState(): Unit = ranks

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"rq_bpe_tokens expects STRING, got ${child.dataType.catalogString}")
    else
      // the merges spec is a plan-time constant: validate it HERE so a
      // malformed table is a clean AnalysisException, not a codegen-time
      // crash (or per-task retry storm under interpreted fallback)
      scala.util.Try(ranks) match {
        case scala.util.Success(_) => TypeCheckResult.TypeCheckSuccess
        case scala.util.Failure(e) =>
          TypeCheckResult.TypeCheckFailure(s"invalid BPE merges spec: ${e.getMessage}")
      }
  }

  def compute(t: Any): Any = BpeKernel.encodeText(t.asInstanceOf[UTF8String], ranks)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
