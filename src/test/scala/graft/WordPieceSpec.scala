package graft

import org.apache.spark.sql.functions._

/** WordPiece tokenizer (train = likelihood-scored merges; encode = greedy
  * longest-match): the two properties that distinguish it from BPE, plus
  * determinism and fallback behavior. The oracle gate checks the full
  * corpus pipeline hash-exactly; these tests pin the SEMANTICS on
  * constructed inputs where the distinguishing behavior is forced.
  */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("merge choice maximizes count(ab)/(count(a)count(b)), not raw count") {
    // "xq" co-occurs 3 times and x,q appear ONLY together (score 3/(3·3));
    // "aa" pairs appear 4 times but 'a' is everywhere (count(a) = 14 over
    // the corpus), so raw-count BPE would pick (a,a) while the likelihood
    // score picks (x,q): 3·S/9 ≫ 4·S/196.
    val d = docs(
      "xq xq xq",
      "aaa aaa aa aa aa a a")
    val (mw, _) = operators.TextOps.wordpieceTrain(d, topN = 10, rounds = 1)
    assert(mw.head._2 === "x" && mw.head._3 === "q")
    val (mb, _) = operators.TextOps.bpeTrain(d, topN = 10, rounds = 1)
    assert(mb.head._2 === "a" && mb.head._3 === "a",
      "the BPE control must pick the raw-count argmax for this corpus")
  }

  test("encode is greedy longest-match, which differs from merge replay") {
    // vocab pieces after merges (a,b) then (ab,c) include "ab" and "abc";
    // the word "abcd": greedy takes "abc"+"d". Merge REPLAY on "abd"
    // (no (ab,d) merge) gives ab|d — same here — but for the word "bc"
    // with merges (a,b),(b,c) learned from a corpus where (a,b) ranks
    // first, replay can't form "bc" (b was consumed rank-first elsewhere
    // historically) while the matcher uses the final vocab directly.
    val enc = operators.TextOps.wordpieceApplyCorpus(
      docs("abcd bc"), Seq(("a", "b"), ("ab", "c")))
      .collect().head
    // greedy over vocab {a,b,c,d, ab, abc}: "abcd" -> abc|d (2 tokens),
    // "bc" -> b|c (2 tokens; "bc" itself is NOT in the vocab)
    assert(enc.getLong(1) === 4L) // n_tokens
  }

  test("unseen characters fall back to single-char tokens, never dead-end") {
    val enc = operators.TextOps.wordpieceApplyCorpus(
      docs("zzyx"), Seq(("q", "r"))) // vocab = corpus chars + unused merge
      .collect().head
    assert(enc.getLong(1) === 4L && enc.getLong(2) === 3L)
  }

  test("a corpus with no [a-z] word and no merges encodes to no rows") {
    val enc = operators.TextOps.wordpieceApplyCorpus(
      docs("123 456", "!!! \u00c4\u00d6\u00dc", ""), Seq.empty)
    assert(enc.collect().isEmpty)
  }

  test("train is deterministic and score-ordered output is stable") {
    val d = Tables.documents(spark, sf0001)
    val a = operators.TextOps.wordpieceTrain(d, 50, 3)._1
    val b = operators.TextOps.wordpieceTrain(d, 50, 3)._1
    assert(a === b)
    assert(a.map(_._1) === (1 to 3))
  }
}
