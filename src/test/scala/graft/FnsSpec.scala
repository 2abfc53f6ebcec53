package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

class FnsSpec extends SparkSpec {
  import spark.implicits._

  test("time buckets truncate to hour/day/month starts (epoch seconds)") {
    val df = Seq("2024-03-15 13:47:22").toDF("s")
      .select(to_timestamp($"s").as("ts"))
    val r = df.select(
      Fns.hourBucket($"ts"), Fns.dayBucket($"ts"), Fns.monthBucket($"ts"),
      Fns.datestamp($"ts")).head()
    r.getLong(0) shouldBe 1710507600L // 2024-03-15 13:00:00 UTC
    r.getLong(1) shouldBe 1710460800L // 2024-03-15 00:00:00 UTC
    r.getLong(2) shouldBe 1709251200L // 2024-03-01 00:00:00 UTC
    r.getString(3) shouldBe "2024-03-15"
  }

  test("dedupKey is stable, null-safe, and distinguishes tag and columns") {
    val df = Seq((1L, "a"), (1L, null), (2L, "a")).toDF("id", "s")
    val keys = df.select(Fns.dedupKey("t", $"id", $"s")).as[String].collect()
    keys.distinct.length shouldBe 3 // null column must not null the key
    keys.foreach(_ should fullyMatch regex "[0-9a-f]{40}")
    // deterministic across evaluations
    val again = df.select(Fns.dedupKey("t", $"id", $"s")).as[String].collect()
    keys should contain theSameElementsAs again
  }

  test("servingId builds the pipe-delimited composite key") {
    val r = Seq(("R1", 1704067200L, 9001L, 1L, 2L))
      .toDF("r", "ts", "m", "p", "c")
      .select(Fns.servingId($"r", $"ts", $"m", $"p", $"c")).head.getString(0)
    r shouldBe "R1|1704067200|9001|1|2"
  }

  test("shingle_hashes fuses ngram+distinct+hash identically to the " +
      "composable form") {
    import graft.functions.{PolyHash64, ShingleHashes}
    import graft.text.TextFns
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c a b c a b c", // repeated ngrams -> distinct matters
      "one two", // fewer words than n -> empty
      "x y z").toDF("text")
    val ws = TextFns.words($"text")
    val composable = docs.select(
      transform(graft.text.Dedup.shingleArray($"text", 3),
        (s: org.apache.spark.sql.Column) => PolyHash64(s)).as("h"))
      .as[Seq[Long]].collect()
    val native = docs.select(ShingleHashes(ws, 3).as("h"))
      .as[Seq[Long]].collect()
    native shouldBe composable
    native(2) shouldBe Seq.empty
  }

  test("nameValueExplode unpivots wide columns into (name, value) rows") {
    val df = Seq((1.5, 2L)).toDF("a", "b")
      .select(Fns.nameValueExplode("a" -> $"a", "b" -> $"b").as("nv"))
      .select($"nv.name", $"nv.value")
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("a", "1.5"), ("b", "2"))
  }

  test("Spread div is validated and the partition count cannot wrap") {
    import graft.functions.Spread
    Spread.parseDiv(None) shouldBe 16
    Spread.parseDiv(Some(" 4 ")) shouldBe 4
    an[IllegalArgumentException] should be thrownBy Spread.parseDiv(Some("0"))
    an[IllegalArgumentException] should be thrownBy Spread.parseDiv(Some("-3"))
    an[IllegalArgumentException] should be thrownBy Spread.parseDiv(Some("x"))
    val mb = BigInt(128L << 20)
    Spread.parts(mb * 3, mb, 16, 200) shouldBe 48
    // a 1-byte unit over a 3 GB input: capped at the wave, not negative
    Spread.parts(mb * 24, mb, Int.MaxValue, 200) shouldBe 200
  }
}
