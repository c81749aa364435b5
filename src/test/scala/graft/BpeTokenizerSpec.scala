package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.BpeTable

/** The embedded ordered-merge BPE tokenizer: fixed-point answers on the
  * fixture vocabulary, edge cases, and a property pinning the native merge
  * loop to the string-replace reference (the exact computation the DuckDB
  * oracle replays). */
class BpeTokenizerSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  private def count(s: String): Long =
    BpeTable.countTokens(org.apache.spark.unsafe.types.UTF8String.fromString(s))

  test("fixture vocabulary words collapse to one token each") {
    val vocab = Seq("the", "table", "value", "scan", "fast", "hash", "line",
      "sort", "window", "merge", "batch", "spark", "order", "data", "column",
      "join", "small", "customer", "query", "big", "group", "stream",
      "vector", "filter", "key", "agg", "row", "slow", "part", "low")
    val multi = vocab.filter(w => BpeTable.countWord(w) != 1L)
    assert(multi.isEmpty, s"expected single-token words, got multi: $multi")
  }

  test("unknown words fall back to merged-residue counts, never zero") {
    assert(count("a") == 1L)
    assert(count("zzz") == 3L)          // no (z,z) rule
    assert(count("xqjv") == 4L)         // nothing merges
    assert(count("the table") == 2L)
    assert(count("") == 0L)             // empty text: one empty word
    assert(count("a  b") == 2L)         // double space: empty middle word
    assert(count(" a") == 1L)           // leading space: empty first word
  }

  test("merge order is positional left-to-right non-overlapping") {
    // 'ggg' with rule (g,g): first pair merges, residue stays: [gg, g]
    assert(BpeTable.countWord("ggg") == 2L)
    assert(BpeTable.countWord("gggg") == 2L) // [gg, gg]
  }

  test("native merge loop equals the string-replace reference (oracle semantics)") {
    val word = Gen.listOf(Gen.frequency(
      (8, Gen.alphaLowerChar), (1, Gen.numChar), (1, Gen.const(' '))))
      .map(_.mkString)
    check(Prop.forAll(word) { s =>
      count(s) == BpeTable.countTokensViaReplace(s)
    })
    // targeted: fixture-vocabulary sentences
    val sent = Gen.listOfN(6, Gen.oneOf("the", "table", "scan", "zz q7",
      "customer", "big", "agg", "", "x")).map(_.mkString(" "))
    check(Prop.forAll(sent) { s =>
      count(s) == BpeTable.countTokensViaReplace(s)
    })
  }

  test("tokenizeWord symbol sequences: length equals countWord, order is the merge pass") {
    def toks(w: String): Seq[String] = {
      val a = BpeTable.tokenizeWord(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), BpeTable.merges.length)
      (0 until a.numElements()).map(i =>
        a.getUTF8String(i).toString)
    }
    // vocabulary word: one symbol, itself
    assert(toks("window") == Seq("window"))
    // composed word: known split (window is merged, x stays a residue)
    assert(toks("windowx") == Seq("window", "x"))
    assert(toks("") == Seq.empty)
    // property: sequence length always equals the count path
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    check(Prop.forAll(word) { w => toks(w).length.toLong == BpeTable.countWord(w) })
    // property: concatenating symbols reproduces the word (merges never
    // drop or reorder characters)
    check(Prop.forAll(word) { w => toks(w).mkString == w })
  }

  test("text_bpe_pairs recovers the next merge the embedded table actually learns") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TempDirs.make("graft-bpepairs").toString
    // at the 28-char-pair mid-training state, 'the' is (th, e): a corpus
    // dominated by 'the' must rank that pair first — and ('th','e') IS
    // rule 29 of the embedded table, the composition a trainer learns next
    val t1 = (Seq.fill(30)("the") ++ Seq.fill(10)("key")).mkString(" ")
    Seq((0L, t1, "en", "s0", t1.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val rows = graft.operators.TextOps.textBpePairs(spark, d).collect()
    assert(rows.head.getAs[String]("pair") == "th e" &&
      rows.head.getAs[Long]("cnt") == 30L, rows.mkString(";"))
    assert(BpeTable.merges(BpeTable.charPairRules) == ("th", "e"))
    // 'key' at 28 rules: (k, ey) — the ey char-pair merge applied, no
    // composition yet
    val key = rows.find(_.getAs[String]("pair") == "k ey").get
    assert(key.getAs[Long]("cnt") == 10L)
  }
}
