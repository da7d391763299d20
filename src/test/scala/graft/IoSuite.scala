package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{DataUtils, Schemas}
import graft.selectivesearch.SelectiveSearch

/** I/O contracts: shard-results loader (S1), scores-CSV positional
  * bind (S2/J5/C3/C4), and the single-file TREC TSV sink (S4/C9).
  */
class IoSuite extends SparkSuite {
  import spark.implicits._

  private lazy val work = Files.createTempDirectory("graft-io").toString

  private def writeShardFile(shard: Int, rows: Seq[(Int, Int, Long, Long, Double, Int, Int)]): Unit = {
    val tmp = s"$work/w$shard"
    rows.toDF("query", "rank", "ldocid", "gdocid", "score", "shard", "bucket")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$work/res#$shard.results-1"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  test("loadShardResults: multi-file union under the documented contract") {
    writeShardFile(0, Seq((0, 0, 1L, 1L, 9.0, 0, 0), (1, 0, 2L, 2L, 8.0, 0, 1)))
    writeShardFile(1, Seq((0, 0, 3L, 3L, 7.0, 1, 0)))
    val got = SelectiveSearch.loadShardResults(spark, s"$work/res", 2)
    assert(got.schema == Schemas.resultsSchema)
    assert(got.count() == 3)
    assert(got.select(sum($"score")).first().getDouble(0) == 24.0)
  }

  test("loadShardSelection: positional CSV bind reproduces pandas ranks") {
    // cartesian order is (query-major, shard): q0s0 q0s1 q0s2 q1s0 ...
    Files.write(Paths.get(s"$work/scores.csv"),
      Seq(0.9, 0.2, 0.5, 0.1, 0.5, 0.8).mkString("\n").getBytes)
    val sel = SelectiveSearch.loadShardSelection(spark, Seq(0L, 1L), 3, s"$work/scores.csv")
      .orderBy("query", "shard")
    assertRowsEqual(sel.select("query", "shard", "shard_score", "rank"), Seq(
      Seq(0, 0, 0.9, 0), Seq(0, 1, 0.2, 2), Seq(0, 2, 0.5, 1),
      Seq(1, 0, 0.1, 2), Seq(1, 1, 0.5, 1), Seq(1, 2, 0.8, 0)))
  }

  test("loadBucketSelection: 3-way cartesian, ties rank by position order") {
    // q0: scores (s0b0 .5, s0b1 .5, s1b0 .7, s1b1 .1) — tie at .5
    // broken by cartesian position, so s0b0 before s0b1
    Files.write(Paths.get(s"$work/bscores.csv"),
      Seq(0.5, 0.5, 0.7, 0.1).mkString("\n").getBytes)
    val sel = SelectiveSearch.loadBucketSelection(spark, Seq(7L), 2, 2, s"$work/bscores.csv")
      .orderBy("shard", "bucket")
    assertRowsEqual(sel.select("query", "shard", "bucket", "shard_score", "rank"), Seq(
      Seq(7, 0, 0, 0.5, 1), Seq(7, 0, 1, 0.5, 2),
      Seq(7, 1, 0, 0.7, 0), Seq(7, 1, 1, 0.1, 3)))
  }

  /** The relational selection loader the driver-side one replaced,
    * kept as its oracle: the cartesian frame with arithmetic positions,
    * line numbers from a one-partition text read, an equi-join on
    * position and a per-query row_number window.
    */
  private def relationalSelection(queries: Seq[Long], nshards: Int,
      nbuckets: Option[Int], path: String): DataFrame = {
    val ranges = Seq(queries, 0L until nshards.toLong) ++
      nbuckets.map(nb => 0L until nb.toLong)
    val names = Seq("query", "shard") ++ nbuckets.map(_ => "bucket")
    val cart = DataUtils.cartesianWithPos(spark, ranges, names)
    val scores = spark.sparkContext.textFile(path, 1)
      .zipWithIndex()
      .map { case (line, idx) => (idx, line.trim.toDouble) }
      .toDF("pos", "shard_score")
    val bound = cart.join(scores, Seq("pos"), "inner").drop("pos")
    val tiebreak = names.tail.map(col(_).asc)
    val w = Window.partitionBy(col("query"))
      .orderBy(col("shard_score").desc +: tiebreak: _*)
    bound.withColumn("rank", (row_number().over(w) - 1).cast("int"))
  }

  test("loadSelection: driver-side bind equals the relational loader on random score files") {
    import Ordering.Implicits._
    val rnd = new scala.util.Random(11)
    // ties, NaN (ranks first), signed zeros (rank equal) and infinities
    val specials = Seq(Double.NaN, -0.0, 0.0, 0.5, Double.PositiveInfinity,
      Double.NegativeInfinity)
    def score(): String = {
      val d = if (rnd.nextInt(3) == 0) specials(rnd.nextInt(specials.size))
        else rnd.nextInt(5) / 4.0
      if (rnd.nextInt(8) == 0) s" $d " else d.toString
    }
    // collected rows keyed by (query, shard[, bucket]); scores by their
    // bits, so -0.0 and 0.0 differ and NaN equals NaN
    def rows(df: DataFrame, keys: Int): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case x => x
      }).sortBy(_.take(keys).map(_.asInstanceOf[Int]))
    val nshards = 4
    for {
      queries <- Seq(Seq(0L, 1L, 2L), Seq(7L, 3L, 100L), Seq(-5L))
      nbuckets <- Seq(None, Some(3))
      lenDelta <- Seq(-7, 0, 5)
    } {
      val positions = queries.size * nshards * nbuckets.getOrElse(1)
      val n = math.max(0, positions + lenDelta)
      val path = s"$work/rand-${queries.mkString("_")}-${nbuckets.getOrElse(0)}-$lenDelta.csv"
      val eol = if (rnd.nextBoolean()) "\n" else "\r\n"
      val trailing = if (rnd.nextBoolean()) eol else ""
      Files.write(Paths.get(path),
        (Seq.fill(n)(score()).mkString(eol) + trailing).getBytes)
      val got = nbuckets match {
        case None => SelectiveSearch.loadShardSelection(spark, queries, nshards, path)
        case Some(nb) =>
          SelectiveSearch.loadBucketSelection(spark, queries, nshards, nb, path)
      }
      val want = relationalSelection(queries, nshards, nbuckets, path)
      val keys = if (nbuckets.isDefined) 3 else 2
      val ctx = s"queries=$queries buckets=$nbuckets lines=$n"
      assert(got.schema == want.schema, ctx)
      assert(rows(got, keys) == rows(want, keys), ctx)
      assert(got.count() == math.min(n, positions), ctx)
    }
  }

  test("loadSelection: duplicate or non-int query ids fail loudly") {
    Files.write(Paths.get(s"$work/dup.csv"), Seq.fill(6)("0.5").mkString("\n").getBytes)
    for (queries <- Seq(Seq(1L, 2L, 1L), Seq(1L << 40))) {
      intercept[IllegalArgumentException](
        SelectiveSearch.loadShardSelection(spark, queries, 2, s"$work/dup.csv"))
      intercept[IllegalArgumentException](
        SelectiveSearch.loadBucketSelection(spark, queries, 1, 2, s"$work/dup.csv"))
    }
  }

  test("PlotExport writes a tidy sorted x,y,label CSV (evaluate output shape)") {
    val evaluated = Seq(
      (1, 0.5, 2), (0, 0.3, 1), (1, 0.6, 1), (0, 0.4, 2)
    ).toDF("query", "p_10", "step")
    graft.selectivesearch.PlotExport.exportSeries(
      evaluated, x = "step", y = "p_10", label = "query", path = s"$work/plot.csv")
    val lines = scala.io.Source.fromFile(s"$work/plot.csv").getLines().toSeq
    assert(lines == Seq(
      "label,x,y", "0,1,0.3", "0,2,0.4", "1,1,0.6", "1,2,0.5"))
  }

  test("toTrec writes a single headerless 6-column TSV, top-cutoff per query") {
    val results = Seq(
      (0, 9.5, "docA"), (0, 8.0, "docB"), (0, 7.0, "docC"),
      (1, 5.0, "docD"), (1, 4.0, "docE")
    ).toDF("query", "score", "title")
    SelectiveSearch.toTrec(results, s"$work/run.trec", cutoff = 2)
    val lines = scala.io.Source.fromFile(s"$work/run.trec").getLines().toSeq
    assert(lines == Seq(
      "0\tQ0\tdocA\t0\t9.5\tnull",
      "0\tQ0\tdocB\t1\t8.0\tnull",
      "1\tQ0\tdocD\t0\t5.0\tnull",
      "1\tQ0\tdocE\t1\t4.0\tnull"))
    assert(Files.exists(Paths.get(s"$work/run.trec")))
    assert(!Files.exists(Paths.get(s"$work/run.trec.tmpdir")))
  }

  test("toTrec off-happy-path inputs route to the window form") {
    // cutoff = 0: the bounded heap needs k > 0; the window form just
    // writes an empty file
    val results = Seq((0, 9.5, "docA"), (1, 5.0, "docD"))
      .toDF("query", "score", "title")
    SelectiveSearch.toTrec(results, s"$work/empty.trec", cutoff = 0)
    assert(scala.io.Source.fromFile(s"$work/empty.trec").getLines().isEmpty)
    // integer score column: the window form preserves the input type's
    // to_csv rendering ("9" not "9.0")
    val intScores = Seq((0, 9, "docA"), (0, 8, "docB"))
      .toDF("query", "score", "title")
    SelectiveSearch.toTrec(intScores, s"$work/int.trec", cutoff = 10)
    val lines = scala.io.Source.fromFile(s"$work/int.trec").getLines().toSeq
    assert(lines == Seq("0\tQ0\tdocA\t0\t9\tnull", "0\tQ0\tdocB\t1\t8\tnull"))
    // a frame missing 'score' gets the friendly missing-column error,
    // not a raw StructType lookup failure from the routing check
    val noScore = Seq((0, "docA")).toDF("query", "title")
    intercept[graft.core.MissingColumnException] {
      SelectiveSearch.toTrec(noScore, s"$work/bad.trec")
    }
  }

  test("Tables.events normalizes both on-disk ts layouts to long nanos") {
    // the events table has shipped with ts as long epoch-nanos
    // (TIMESTAMP(NANOS) read raw) and as timestamp[us]/NTZ (the
    // 2026-08 refresh); every consumer assumes the long-nanos
    // contract, so both layouts must read identically
    val us = Seq(1704067200000000L, 1704067201500000L) // 2024-01-01T00:00:00/:01.5Z
    val longDir = s"$work/ev-long"
    us.map(_ * 1000L).zipWithIndex
      .map { case (ns, i) => (i.toLong, ns) }.toDF("event_id", "ts")
      .write.mode(SaveMode.Overwrite).parquet(s"$longDir/events.parquet")
    val ntzDir = s"$work/ev-ntz"
    us.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("event_id", "us")
      .select($"event_id", expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
      .write.mode(SaveMode.Overwrite).parquet(s"$ntzDir/events.parquet")
    val fromLong = Tables.events(spark, longDir)
      .orderBy("event_id").select("ts").as[Long].collect().toSeq
    val fromNtz = Tables.events(spark, ntzDir)
      .orderBy("event_id").select("ts").as[Long].collect().toSeq
    assert(fromLong == us.map(_ * 1000L), s"long layout mangled: $fromLong")
    assert(fromNtz == fromLong, s"ntz layout diverges: $fromNtz vs $fromLong")
    // the NTZ conversion must be wall-clock arithmetic, NOT a session-
    // timezone cast: the same read under a non-UTC session must yield
    // the same nanos (a cast-through-LTZ would shift by the offset)
    val tzKey = "spark.sql.session.timeZone"
    val orig = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val fromNtzNy = Tables.events(spark, ntzDir)
        .orderBy("event_id").select("ts").as[Long].collect().toSeq
      assert(fromNtzNy == fromLong,
        s"ntz layout is session-tz-dependent: $fromNtzNy vs $fromLong")
    } finally spark.conf.set(tzKey, orig)
  }
}
