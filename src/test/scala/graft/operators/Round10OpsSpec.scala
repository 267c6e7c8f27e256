package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("prefixDedup: shared first-k-token prefix collapses, diverging tails keep the hash") {
    val docs = Seq(
      (1L, "alpha beta gamma TAIL one two"),
      (2L, "alpha beta gamma completely different ending"),
      (3L, "alpha beta DIFFERENT head"),
      (4L, ""),
      (5L, "   "),
      (6L, "short")
    ).toDF("doc_id", "text")
    val r = Dedup.prefixDedup(docs, "doc_id", "text", k = 3)
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    // docs 1,2 share the 3-token prefix "alpha beta gamma" -> winner 1, 2 copies
    assert(r(1L) === 2L && !r.contains(2L))
    // doc 3 diverges inside the prefix window
    assert(r(3L) === 1L)
    // empty and whitespace-only text both tokenize to [] -> same '' prefix group
    assert(r(4L) === 2L && !r.contains(5L))
    // shorter-than-k docs group by their full token string
    assert(r(6L) === 1L)
  }

  test("prefixDedup is partitioning-invariant") {
    val docs = (1L to 100L)
      .map(i => (i, s"head${i % 7} common prefix words tail $i"))
      .toDF("doc_id", "text")
    val a = Dedup.prefixDedup(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.prefixDedup(docs.repartition(13), "doc_id", "text", k = 4)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("graft_bpe_token_count matches the greedy sequential merge fold") {
    def count(w: String, merges: Seq[(String, String)]): Int = {
      val lhs = typedLit(merges.map(_._1))
      val rhs = typedLit(merges.map(_._2))
      Seq(w).toDF("w")
        .select(call_function("graft_bpe_token_count", col("w"), lhs, rhs))
        .as[Int].head
    }
    // no merges: code-point count
    assert(count("abcd", Nil) === 4)
    // one merge applied greedily left-to-right, overlapping runs:
    // "aaa" under (a,a): [aa, a] -> 2 (just-merged aa does not re-match 'a')
    assert(count("aaa", Seq(("a", "a"))) === 2)
    assert(count("aaaa", Seq(("a", "a"))) === 2)
    // sequential rules: (a,b) then (ab,c): "abc" -> [ab, c] -> [abc] -> 1
    assert(count("abc", Seq(("a", "b"), ("ab", "c"))) === 1)
    // rule order matters: (b,c) first blocks (a,b)
    assert(count("abc", Seq(("b", "c"), ("a", "b"))) === 2)
    // empty word -> 0 symbols
    assert(count("", Seq(("a", "b"))) === 0)
  }
}
