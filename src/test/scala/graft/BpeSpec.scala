package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.GraftFunctions.bpe_tokens
import graft.operators.TextOps

/** Real BPE tokenization (greedy lowest-rank merge loop as a codegen'd
  * Catalyst expression). Properties that matter: known words tokenize as
  * the rank priorities dictate (multi-level merges included), the greedy
  * loop equals the in-order one-pass-per-rule application the DuckDB
  * oracle runs (the validity theorem, checked on random words), invalid
  * merges tables reject loudly, and the interpreted and codegen paths
  * agree through a DataFrame. */
class BpeSpec extends SparkSpec with PropHelper {

  private val ranks =
    org.apache.spark.sql.graft.BpeKernel.buildRanks(
      TextOps.DefaultMerges.map { case (a, b) => s"$a $b" }.mkString(","))

  private def encode(word: String): Seq[String] = {
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String]()
    org.apache.spark.sql.graft.BpeKernel.encodeWord(word, ranks, out)
    (0 until out.size()).map(out.get(_).toString)
  }

  /** The oracle's algorithm: merges applied in rank order, one
    * left-to-right non-overlapping replace pass per rule, over the
    * ' c '-wrapped character string. */
  private def inOrderEncode(word: String): Seq[String] = {
    var s = word.map(c => s" $c ").mkString
    TextOps.DefaultMerges.foreach { case (a, b) =>
      // left-to-right non-overlapping, continue after each replacement —
      // java String.replace over non-regex literals has exactly these
      // semantics (as does DuckDB's replace())
      s = s.replace(s" $a  $b ", s" $a$b ")
    }
    val t = s.trim
    if (t.isEmpty) Seq.empty else t.split("  ").toSeq
  }

  test("known words: multi-level merges and rank priority") {
    assert(encode("stream") == Seq("stream")) // s+t, r+e, st+re, stre+a, strea+m
    assert(encode("sort") == Seq("sort")) // o+r before s... chain to a single token
    assert(encode("query") == Seq("qu", "er", "y")) // e+r (rank 5) beats q+u (rank 20)
    assert(encode("order") == Seq("or", "d", "er"))
    assert(encode("hash") == Seq("hash"))
    assert(encode("table") == Seq("tab", "l", "e"))
    assert(encode("group") == Seq("group"))
    assert(encode("window") == Seq("wind", "o", "w"))
    assert(encode("z") == Seq("z")) // unmergeable single char
    assert(encode("") == Seq.empty)
  }

  test("left-to-right non-overlapping merge of repeated pairs") {
    // rule (t,a): 'tatata' -> [ta,ta,ta]; 'tat' -> [ta,t]
    assert(encode("tatata") == Seq("ta", "ta", "ta"))
    assert(encode("tat") == Seq("ta", "t"))
  }

  test("greedy loop == in-order pass-per-rule on random words (the oracle equivalence)") {
    val letters = Gen.oneOf("tasnreohbcdlumqwigp".toSeq)
    val word = Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, letters))
      .map(_.mkString)
    forAll(word, n = 500) { w =>
      assert(encode(w) == inOrderEncode(w), s"word '$w'")
    }
  }

  test("tokenization is lossless: concatenated tokens rebuild the word") {
    val letters = Gen.oneOf("tasnreohbcdlumqwigpzx_9".toSeq)
    val word = Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, letters))
      .map(_.mkString)
    forAll(word, n = 300) { w =>
      assert(encode(w).mkString == w, s"word '$w'")
    }
  }

  test("invalid merges tables reject loudly") {
    intercept[IllegalArgumentException] {
      // 'xy' is not a single char nor an earlier output
      org.apache.spark.sql.graft.BpeKernel.buildRanks("xy z")
    }
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.BpeKernel.buildRanks("a b,a b") // duplicate
    }
    intercept[IllegalArgumentException] {
      // space-containing operand (robust encoding): unmatchable, rejected
      org.apache.spark.sql.graft.BpeKernel.buildRanks("a b c")
    }
  }

  test("supplementary-plane characters tokenize as whole code points (lossless)") {
    val emoji = new String(Character.toChars(0x1F600))
    val got = encode("a" + emoji + "b")
    assert(got == Seq("a", emoji, "b"))
    assert(got.mkString == "a" + emoji + "b")
  }

  test("empty merges table = character tokenization; a lone supplementary char is a valid operand") {
    val empty = org.apache.spark.sql.graft.BpeKernel.buildRanks("")
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String]()
    org.apache.spark.sql.graft.BpeKernel.encodeWord("abc", empty, out)
    assert((0 until out.size()).map(out.get(_).toString) == Seq("a", "b", "c"))
    // one supplementary character passes the single-char operand check
    val emoji = new String(Character.toChars(0x1F600))
    org.apache.spark.sql.graft.BpeKernel.buildRanks(s"$emoji b")
  }

  test("malformed spec is an ANALYSIS error, not a codegen crash") {
    import spark.implicits._
    Seq(Tuple1("x")).toDF("text").createOrReplaceTempView("bpe_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT rq_bpe_tokens(text, 'x y;ab c') FROM bpe_bad").collect()
    }
    assert(e.getMessage.contains("invalid BPE merges spec") ||
      e.getMessage.contains("neither a single character"), e.getMessage)
  }

  test("DataFrame path (codegen) agrees with the kernel; bpeTokenize shape") {
    import spark.implicits._
    val df = Seq((1L, "the fast stream sort query"), (2L, "hash table group"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      bpe_tokens(col("text"), TextOps.DefaultMerges).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val expect1 = Seq("the", "fast", "stream", "sort", "query")
      .flatMap(encode)
    assert(got(1L) == expect1)
    assert(got(2L) == Seq("hash", "tab", "l", "e", "group"))

    val tok = TextOps.bpeTokenize(df)
    val row = tok.filter(col("doc_id") === 2L).collect().head
    assert(row.getLong(1) == 5L)
    assert(row.getString(2) == "hash|tab|l|e|group")
  }

  test("bpeTrain: learns the expected merges on a known corpus; table is valid and feeds tokenize") {
    import spark.implicits._
    // 'aa' pair dominates (overlapping count: 'aaaa' contributes 3),
    // then 'aa'+'aa', then the b-chain
    val docs = Seq(
      (1L, "aaaa aaaa aaaa bcd"),
      (2L, "aaaa aaaa bcd bcd"),
      (3L, "aa bc")).toDF("doc_id", "text")
    val m = TextOps.bpeTrain(docs, numMerges = 3).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a) at all adjacent positions: 5 docs' words —
    // 'aaaa'×5 → 3 each = 15, 'aa'×1 → 1 ⇒ 16
    assert(m(0) == ((1, "a", "a", 16L)))
    // after merge: 'aaaa' → [aa,aa] (left-to-right), 'aa' → [aa];
    // round 2: (aa,aa) = 5 vs (b,c) = 4 ⇒ aa+aa wins
    assert(m(1) == ((2, "aa", "aa", 5L)))
    assert(m(2) == ((3, "b", "c", 4L)))
    // the learned table is VALID (buildRanks accepts) and composes
    val spec = m.map(t => s"${t._2} ${t._3}").mkString(",")
    org.apache.spark.sql.graft.BpeKernel.buildRanks(spec)
    val tok = TextOps.bpeTokenize(docs, m.map(t => t._2 -> t._3).toSeq)
      .filter(col("doc_id") === 1L).collect().head
    assert(tok.getString(2) == "aaaa|aaaa|aaaa|bc|d")
  }

  /** Local replay of the batched trainer's documented algorithm (pair
    * counts at all adjacent positions, greedy symbol-disjoint top-B by
    * (count desc, pair asc), batch applied in rank order via the same
    * left-to-right replace) — the spec-side oracle for bpeTrainBatched. */
  private def replayBatched(corpus: Seq[String], numMerges: Int,
      batch: Int): Seq[(Int, String, String, Long)] = {
    val counts = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    var vocab: Map[String, Long] =
      counts.map { case (w, c) => w.map(ch => s" $ch ").mkString -> c }
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (learned.size < numMerges && !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (s, c) =>
        val toks = s.trim.split("  ")
        if (toks.length > 1)
          toks.sliding(2).foreach(p =>
            pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + c)
      }
      val ordered = pc.toSeq.sortBy { case ((a, b), n) => (-n, s"$a $b") }
      val used = scala.collection.mutable.Set.empty[String]
      val picks = ordered.iterator.collect {
        case ((a, b), n) if !used(a) && !used(b) =>
          used += a; used += b; (a, b, n)
      }.take(math.min(batch, numMerges - learned.size)).toSeq
      if (picks.isEmpty) exhausted = true
      else {
        picks.foreach { case (a, b, n) =>
          learned += ((learned.size + 1, a, b, n)) }
        vocab = vocab.map { case (s, c) =>
          picks.foldLeft(s) { case (acc, (a, b, _)) =>
            acc.replace(s" $a  $b ", s" ${a + b} ") } -> c }
          .groupBy(_._1).map { case (s, g) => s -> g.values.sum } // keys can collide post-merge
      }
    }
    learned.toSeq
  }

  test("bpeTrainBatched(batch=1) == bpeTrain, rule for rule") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa aaaa aaaa bcd"),
      (2L, "aaaa aaaa bcd bcd"),
      (3L, "aa bc")).toDF("doc_id", "text")
    val classic = TextOps.bpeTrain(docs, numMerges = 3).orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val b1 = TextOps.bpeTrainBatched(docs, numMerges = 3, batch = 1)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(classic.toSeq == b1.toSeq)
  }

  test("bpeTrainBatched: greedy symbol-disjoint rounds match the local replay; table is valid") {
    import spark.implicits._
    val corpus = Seq(
      "stream stream stream sort sort group group group",
      "query window hash table order stream sort",
      "the fast stream sorts the group by hash",
      "window window order order order table")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (batch <- Seq(2, 3, 5)) {
      val got = TextOps.bpeTrainBatched(docs, numMerges = 10, batch = batch)
        .orderBy("rank")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(got.toSeq == replayBatched(corpus, 10, batch), s"batch=$batch")
      // within each round, picks share no symbol (the invariance guarantee)
      got.grouped(batch).foreach { round =>
        val syms = round.flatMap(t => Seq(t._2, t._3))
        assert(syms.distinct.size == syms.size,
          s"batch=$batch round shares a symbol: $round")
      }
      // learned table is VALID by construction — buildRanks accepts it
      org.apache.spark.sql.graft.BpeKernel.buildRanks(
        got.map(t => s"${t._2} ${t._3}").mkString(","))
    }
  }

  test("bpeTrainBatched: corpus exhaustion fails loudly with the learned count") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text") // capacity: 1 merge
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeTrainBatched(docs, numMerges = 5, batch = 2)
    }
    assert(e.getMessage.contains("corpus exhausted after 1 merges"), e.getMessage)
  }

  test("bpeTrainBatched at depth: the ladder corpus sustains hundreds of rules, all valid") {
    import org.apache.spark.sql.functions.countDistinct
    val docs = Bench.bpeCorpus(spark, 400L)
    // vocabulary must be wide enough that capacity >> merges
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct(col("w"))).collect().head.getLong(0)
    assert(words > 5000, s"bpeCorpus vocabulary too small: $words")
    val m = TextOps.bpeTrainBatched(docs, numMerges = 192, batch = 32)
      .orderBy("rank").collect()
    assert(m.length == 192)
    assert(m.map(_.getInt(0)).toSeq == (1 to 192))
    // valid table by construction
    org.apache.spark.sql.graft.BpeKernel.buildRanks(
      m.map(r => s"${r.getString(1)} ${r.getString(2)}").mkString(","))
  }

  test("SQL registration: rq_bpe_tokens with a literal merges spec") {
    import spark.implicits._
    Seq(Tuple1("stream sort")).toDF("text").createOrReplaceTempView("bpe_in")
    val spec = TextOps.DefaultMerges.map { case (a, b) => s"$a $b" }.mkString(",")
    val out = spark.sql(
      s"SELECT rq_bpe_tokens(text, '$spec') AS t FROM bpe_in")
      .collect().head.getSeq[String](0)
    assert(out == Seq("stream", "sort"))
  }

  private def wpEncode(word: String, vocab: Seq[String]): Seq[String] = {
    val v = org.apache.spark.sql.graft.WordPieceKernel.buildVocab(
      vocab.mkString(org.apache.spark.sql.graft.BpeKernel.RuleSep.toString))
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String]()
    org.apache.spark.sql.graft.WordPieceKernel.encodeWord(word, v, out)
    (0 until out.size()).map(out.get(_).toString)
  }

  test("wordpiece: greedy longest match, ## continuation, UNK rules") {
    val vocab = Seq("un", "##able", "##bl", "##a", "##b", "##l", "##e",
      "u", "n", "a", "b", "l", "e", "unable")
    // whole-word piece wins over any decomposition
    assert(wpEncode("unable", vocab) == Seq("unable"))
    // the longest match wins at EVERY position: "unable" swallows the
    // whole prefix of "unablee"; without it, ##able beats ##a/##bl chains
    assert(wpEncode("unablee", vocab) == Seq("unable", "##e"))
    assert(wpEncode("unablee", vocab.filterNot(_ == "unable")) ==
      Seq("un", "##able", "##e"))
    // missing continuation char → whole word is UNK even though a prefix
    // matched ('x' not in vocab)
    assert(wpEncode("unx", vocab) == Seq("[UNK]"))
    // word-initial probe is the RAW piece: a literal "##..." word matches
    // the continuation piece VERBATIM, ## included (huggingface's exact
    // lookup semantics — the oracle's s=0 branch mirrors this)
    assert(wpEncode("##able", vocab) == Seq("##able"))
    // >100-code-point words collapse to UNK without scanning
    assert(wpEncode("a" * 101, vocab) == Seq("[UNK]"))
    assert(wpEncode("a" * 100, Seq("a", "##a")).length == 100)
    // supplementary-plane chars never split into surrogates
    val emoji = new String(Character.toChars(0x1F600))
    assert(wpEncode("a" + emoji, Seq("a", "##" + emoji)) ==
      Seq("a", "##" + emoji))
    assert(wpEncode("a" + emoji, Seq("a", "##a")) == Seq("[UNK]"))
  }

  test("wordpiece DataFrame path (codegen) agrees with the kernel; empty and multi-space text") {
    import spark.implicits._
    val vocab = Seq("ab", "##c", "a", "b", "c", "##a", "##b")
    val got = Seq("abc ab  c", "", "a").toDF("text")
      .select(graft.functions.GraftFunctions
        .wordpiece_tokens(col("text"), vocab).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("ab", "##c", "ab", "c"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq("a"))
    // invalid vocab (bare ## / embedded space) is an analysis-time error
    intercept[Exception] {
      Seq("x").toDF("text").select(graft.functions.GraftFunctions
        .wordpiece_tokens(col("text"), Seq("a b")).as("t")).collect()
    }
  }
}
