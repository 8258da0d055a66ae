package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Self-tests of the benchmark's generator, tail rule and span coverage.
  * Run with `python3 perfbench/test.py`; exits 1 when any test fails.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getMessage}")
    }

  private def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private def sums(spark: SparkSession, seed: Long): Seq[(Long, Long)] = {
    def all(df: DataFrame) = Workload.checksum(df, df.columns.toSeq: _*)
    Seq(all(Gen.features(spark, seed, 3000)), all(Gen.scoreRows(spark, seed, 2000)),
      all(Gen.corpus(spark, seed, 1000)))
  }

  private def truth(seed: Long): Seq[(Long, String, Long)] =
    (0 until 3).flatMap(b => Gen.batch(seed, 1000, b, 200)).map(d => (d.doc_id, d.kind, d.source))

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse("."))
    val spark = Main.session(2, work)
    spark.sparkContext.setLogLevel("ERROR")

    test("same seed gives identical input checksums") {
      val a = sums(spark, 7)
      val b = sums(spark, 7)
      expect(a == b, s"$a != $b")
      expect(a.forall(_._2 != 0L), s"degenerate checksums $a")
    }
    test("rows are a pure function of (seed, row id), whatever the partitioning") {
      val local = spark.createDataFrame((0L until 3000L).map(Gen.featureRow(7, _))).repartition(1)
      val c = Workload.checksum(local, "id", "label", "cat", "tokens", "f0")
      expect(c == sums(spark, 7).head, s"$c differs from the partitioned generator")
    }
    test("different seed gives different inputs") {
      val a = sums(spark, 7)
      val b = sums(spark, 8)
      a.zip(b).foreach { case (x, y) => expect(x._1 == y._1 && x._2 != y._2, s"$x vs $y") }
    }
    test("same seed gives identical planted-duplicate ground truth") {
      expect(truth(7) == truth(7), "ground truth differs between two draws of seed 7")
      val kinds = truth(7).groupBy(_._2).map { case (k, v) => k -> v.size }
      expect(kinds.keySet == Set("exact", "near", "fresh"), s"kinds $kinds")
      expect(kinds("exact") > 30 && kinds("near") > 30 && kinds("fresh") > 400, s"kinds $kinds")
    }
    test("different seed gives different ground truth") {
      expect(truth(7) != truth(8), "seeds 7 and 8 plant the same duplicates")
    }
    test("planted copies reproduce their source text") {
      Gen.batch(7, 1000, 0, 200).foreach { d =>
        val src = if (d.source >= 0) Gen.docText(7, d.source) else ""
        d.kind match {
          case "exact" => expect(d.text == src, s"exact copy ${d.doc_id} differs from ${d.source}")
          case "near" =>
            val (a, b) = (d.text.split(' '), src.split(' '))
            expect(a.init.sameElements(b.init) && a.last != b.last, s"near copy ${d.doc_id}")
          case _ => expect(d.source == -1L, s"fresh document ${d.doc_id} has a source")
        }
      }
    }
    test("tail is the highest percentile with ten samples beyond it") {
      val hundred = (1 to 100).map(_.toDouble)
      expect(Stats.tail(hundred).contains((90.0, 90.0)), s"100 samples: ${Stats.tail(hundred)}")
      val thousand = (1 to 1000).map(_.toDouble)
      expect(Stats.tail(thousand).contains((99.0, 990.0)), s"1000 samples: ${Stats.tail(thousand)}")
      val twenty = (1 to 20).map(_.toDouble)
      expect(Stats.tail(twenty).contains((50.0, 10.0)), s"20 samples: ${Stats.tail(twenty)}")
      expect(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples have no tail")
      val tied = Seq.fill(50)(1.0) ++ Seq.fill(10)(2.0)
      expect(Stats.tail(tied).exists(_._2 == 1.0), s"tied samples: ${Stats.tail(tied)}")
    }
    test("median and span coverage") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
      expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even median")
      expect(Tracer.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 2L, 35L) == 23L, "overlapping jobs")
      expect(Tracer.coveredMs(Nil, 0L, 10L) == 0L, "no jobs")
    }

    spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
