package graft

import org.apache.spark.sql.functions.{col, expr, length, size, split}

/** graft_gram_md5 / graft_gram_md5_long / graft_min_gram_md5: the one-pass
  * native gram-digest kernels must be bit-identical to the composable
  * higher-order forms they replaced, on the real corpus and on edge shapes
  * (multi-byte UTF-8, short inputs, k = 1).
  */
class GramDigestsSpec extends SparkSpec {

  private def docs = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"), col("text"))
  }

  test("graft_gram_md5 equals the md5(concat_ws(slice)) transform, k = 8") {
    val d = docs.filter(size(col("toks")) >= 8).select(
      expr("transform(sequence(0, size(toks) - 8), " +
        "i -> md5(concat_ws(' ', slice(toks, i + 1, 8))))").as("a"),
      expr("graft_gram_md5(toks, 8)").as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
    assert(d.count() > 0)
  }

  test("graft_gram_md5 equals the md5(concat) 3-gram shingle transform") {
    val d = docs.filter(size(col("toks")) >= 3).select(
      expr("transform(sequence(0, size(toks) - 3), " +
        "i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))").as("a"),
      expr("graft_gram_md5(toks, 3)").as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("graft_gram_md5 at k = 1 is md5 per element") {
    val d = docs.select(
      expr("transform(toks, x -> md5(x))").as("a"),
      expr("graft_gram_md5(toks, 1)").as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("graft_gram_md5_long equals the conv(substr(md5)) winnow hash") {
    val d = docs.filter(size(col("toks")) >= 4).select(
      expr("transform(sequence(0, size(toks) - 4), " +
        "i -> CAST(conv(substr(md5(concat_ws(' ', slice(toks, i + 1, 4))), 1, 8), 16, 10) AS BIGINT))").as("a"),
      expr("graft_gram_md5_long(toks, 4)").as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("graft_min_gram_md5 equals min over md5(substring) char 5-grams, incl. UTF-8") {
    import spark.implicits._
    val t = docs.filter(length(col("text")) >= 5).select(col("text"))
      .union(Seq("héllo wörld ünïcode string ab", "日本語のテキストです", "exact").toDF("text"))
    val d = t.select(
      expr("array_min(transform(sequence(1, length(text) - 4), " +
        "i -> md5(substring(text, i, 5))))").as("a"),
      expr("graft_min_gram_md5(text, 5)").as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("graft_gram_join equals the concat 3-gram shingle transform") {
    val d = docs.filter(size(col("toks")) >= 3).select(
      expr("transform(sequence(0, size(toks) - 3), " +
        "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))").as("a"),
      expr("graft_gram_join(toks, 3)").as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("graft_simhash_votes equals the nibble-decode aggregate folds") {
    val sh = docs.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr("array_distinct(graft_gram_join(toks, 3))").as("sh"))
    val nib = sh.select(col("doc_id"), expr("transform(sh, x -> md5(x))").as("shh"))
      .select(col("doc_id") +: (0 until 8).map(p => expr(
        s"transform(shh, h -> locate(substring(h, ${p + 1}, 1), '0123456789abcdef') - 1)")
        .as(s"n$p")): _*)
    val a = nib.select(col("doc_id") +: (0 until 32).map { b =>
      val p = b / 4; val s2 = 1 << (3 - b % 4)
      expr(s"aggregate(n$p, CAST(0 AS BIGINT), " +
        s"(acc, n) -> acc + ((n div $s2) % 2) * 2 - 1)").as(s"v$b")
    }: _*)
    val b = sh.select(col("doc_id") +: (0 until 32).map(i =>
      expr(s"graft_simhash_votes(sh)[$i]").as(s"v$i")): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("edge shapes: fewer tokens than k is empty, short text is null") {
    import spark.implicits._
    val r = Seq((1L, Seq("a", "b"), "abcd")).toDF("id", "toks", "text")
      .selectExpr("graft_gram_md5(toks, 3) AS g", "graft_gram_md5_long(toks, 3) AS gl",
        "graft_min_gram_md5(text, 5) AS m")
      .head()
    assert(r.getSeq[String](0).isEmpty)
    assert(r.getSeq[Long](1).isEmpty)
    assert(r.isNullAt(2))
  }
}
