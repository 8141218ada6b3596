package graft

import graft.enrich.EnrichOps

/** The driver-parsed lookup dimension reads a CSV file exactly as Spark's
  * CSV source does.
  */
class LookupDimSpec extends SparkTestBase {

  test("lookup dim dialect == spark.read.csv after the same last-wins fold") {
    val dir = java.nio.file.Files.createTempDirectory("lookupdim")
    val csv = dir.resolve("adversarial.csv")
    java.nio.file.Files.write(csv, Seq(
      "k,a,b",
      "comma,\"x, y\",1",     // quoted comma
      "quote,\"say \"\"hi\"\"\",2", // escaped quote
      "empty,,3",              // empty field
      "qempty,\"\",4",         // quoted-empty field
      "short,only",            // short row: b pads with null
      "",                      // blank line: skipped
      "long,p,q,r",            // long row: extra field dropped
      "comma,last,5"           // duplicate key: this row wins
    ).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val dim = EnrichOps.lookupDim(spark, csv.toString, "k")
    val viaSource = spark.read.option("header", "true").csv(csv.toString)
    assert(dim.columns.toSeq == viaSource.columns.toSeq)
    def lastWins(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
      rows.reverse.distinctBy(_.head).reverse
    val expected = lastWins(viaSource.collect().toSeq.map(_.toSeq))
    assert(dim.collect().toSeq.map(_.toSeq) == expected)
    // the fixture exercises what it claims: a real fold and null fields
    assert(expected.length == 6 && expected.exists(_.contains(null)))
    assert(expected.contains(Seq("comma", "last", "5")))
    Bench.deleteRec(dir.toString)
  }
}
