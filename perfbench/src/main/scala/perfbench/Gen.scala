package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Seeded input generators. Every workload input is a pure function of
  * the seed and the sizes below: the same seed gives byte-identical staged
  * Parquet, a different seed gives different rows. The engine only ever
  * sees these staged files, read back with plain `spark.read.parquet`. */
object Gen {

  /** 83 ship months, 1992-01 .. 1998-11 (the TPC-H ship-date span) */
  val Months: IndexedSeq[String] =
    for (y <- 1992 to 1998; m <- 1 to 12 if !(y == 1998 && m > 11))
      yield f"$y%04d-$m%02d"

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipmode", StringType),
    StructField("l_comment", StringType),
    StructField("l_ts", LongType, nullable = false),
    StructField("l_shipmonth", StringType, nullable = false),
    StructField("l_shipyear", StringType, nullable = false)))

  val KeyCols: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val DeleteCols: Seq[String] = Seq("l_shipmonth", "l_orderkey", "l_linenumber")

  private val ShipModes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Words = Array("carefully", "final", "deposits", "quickly", "ironic",
    "pending", "furiously", "regular", "accounts", "packages", "blithely",
    "express", "requests", "slyly", "even", "theodolites")

  /** a monotone precombine clock: commit `c`'s rows carry ts > every ts of
    * commits before it; stale rows draw strictly below their key's ts */
  def tsOf(commit: Int, j: Int): Long = commit.toLong * 1000000L + j

  def lineitem(r: SplittableRandom, okey: Long, ln: Int, month: Int, ts: Long): Row = {
    val qty = 1 + r.nextInt(50)
    val price = 900 + r.nextInt(100000) / 100.0
    val comment = Seq.fill(3 + r.nextInt(4))(Words(r.nextInt(Words.length))).mkString(" ")
    Row(okey, ln, 1L + r.nextInt(20000), 1L + r.nextInt(1000), qty.toDouble,
      qty * price, r.nextInt(11) / 100.0,
      if (r.nextInt(4) == 0) "R" else if (r.nextBoolean()) "A" else "N",
      if (r.nextBoolean()) "O" else "F", ShipModes(r.nextInt(ShipModes.length)),
      comment, ts, Months(month), Months(month).take(4))
  }

  /** month index skewed toward the newest months: months back from the
    * newest are exponential with mean 4, so most changes land in the last
    * year, as late corrections to recent orders do */
  def recentMonth(r: SplittableRandom): Int =
    math.max(0, Months.size - 1 - (-math.log(1 - r.nextDouble()) * 4).toInt)

  /** Zipf(s = 1.1) rank sampler over n items by inverse-CDF table */
  final class Zipf(n: Int, s: Double = 1.1) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def next(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Write rows as ONE Parquet file under `dir` (one partition, so the
    * bytes do not depend on task scheduling) and return its size. */
  def stage(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: String): Long = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir)
    stagedBytes(spark, dir)
  }

  def stagedBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  def read(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(dir)

  // ---- cdc_ingest / lake_query history -------------------------------

  /** One generated change batch. `kind` = "upsert" | "delete". */
  final case class Batch(kind: String, rows: Seq[Row])

  /** Base table plus a seeded change history over it. Updates keep their
    * key's ship month (the partition is part of the record identity on a
    * partition-scoped index), favour the newest months, and a share of
    * each upsert batch is stale (precombine below the stored value, so it
    * must lose). Batches 2, 2 + `deleteEvery`, … delete keys instead. */
  final class History(seed: Long, baseRows: Int, batchRows: Int,
      deleteEvery: Int, staleShare: Double, newShare: Double) {
    private val r = new SplittableRandom(seed)
    // live state: key index → (orderkey, linenumber, month, ts)
    private val okeys = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val lns = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val months = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val tss = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val alive = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    private val byMonth = Array.fill(Months.size)(scala.collection.mutable.ArrayBuffer.empty[Int])
    private var nextOrder = 1L

    private def addOrder(month: Int, ts: Long, lines: Int, j0: Int): Seq[Row] = {
      val ok = nextOrder; nextOrder += 1
      (1 to lines).map { ln =>
        val m = math.min(Months.size - 1, month + r.nextInt(2))
        val i = okeys.size
        okeys += ok; lns += ln; months += m; tss += ts + j0 + ln; alive += true
        byMonth(m) += i
        lineitem(r, ok, ln, m, ts + j0 + ln)
      }
    }

    val base: Seq[Row] = {
      val out = Seq.newBuilder[Row]
      var n = 0
      while (n < baseRows) {
        val rows = addOrder(r.nextInt(Months.size), tsOf(0, 0), 1 + r.nextInt(7), n)
        out ++= rows; n += rows.size
      }
      out.result()
    }

    private def pickAlive(recent: Boolean, taken: scala.collection.mutable.Set[Int]): Int = {
      var i = -1
      while (i < 0) {
        val bucket = byMonth(if (recent) recentMonth(r) else r.nextInt(Months.size))
        if (bucket.nonEmpty) {
          val c = bucket(r.nextInt(bucket.size))
          if (alive(c) && !taken(c)) i = c
        }
      }
      taken += i
      i
    }

    /** batch number `c` (1-based: the commit after the base) */
    def batch(c: Int): Batch = {
      val taken = scala.collection.mutable.Set.empty[Int]
      if (deleteEvery > 0 && c % deleteEvery == 2 % deleteEvery) {
        val rows = (0 until batchRows / 2).map { _ =>
          val i = pickAlive(recent = false, taken)
          alive(i) = false
          Row(Months(months(i)), okeys(i), lns(i))
        }
        Batch("delete", rows)
      } else {
        val nNew = (batchRows * newShare).toInt
        val nStale = (batchRows * staleShare).toInt
        val out = Seq.newBuilder[Row]
        var j = 0
        while (j < nNew) {
          val i0 = okeys.size
          val rows = addOrder(recentMonth(r), tsOf(c, 0), 1 + r.nextInt(4), j * 10)
          taken ++= (i0 until okeys.size)
          out ++= rows; j += rows.size
        }
        for (k <- 0 until batchRows - nNew) {
          val stale = k < nStale
          val i = pickAlive(recent = true, taken)
          val ts = if (stale) tss(i) - 1 - r.nextInt(1000) else tsOf(c, 100000 + k)
          if (!stale) tss(i) = ts
          out += lineitem(r, okeys(i), lns(i), months(i), ts)
        }
        Batch("upsert", out.result())
      }
    }
  }

  val DeleteSchema: StructType = StructType(Seq(
    StructField("l_shipmonth", StringType, nullable = false),
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false)))

  /** keys of a staged delete batch, in the column order the engine's
    * keyed delete takes */
  def deleteKeys(df: DataFrame): DataFrame = df.select(DeleteCols.map(col): _*)

  // ---- dedup_stream ---------------------------------------------------

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Offset of injected duplicate ids: every duplicate's id is above every
    * original's, so the engine's smallest-id-partner rule names the
    * original. */
  val DupIdBase: Long = 1000000000L

  /** A document corpus in shards with injected duplicates at known rates.
    * Originals are random Zipf-weighted word sequences over a large
    * vocabulary, so two originals share almost no word trigrams. An exact
    * duplicate repeats its original byte for byte; a near duplicate
    * changes letter case and whitespace only, which the tokenizer folds
    * away, so both kinds are certain to be caught. A duplicate lands in
    * its original's shard or a later one, never an earlier one. Shards are
    * generated in order, as many as a run asks for. */
  final class Corpus(seed: Long, docsPerShard: Int, exactRate: Double,
      nearRate: Double) {
    private val r = new SplittableRandom(seed ^ 0x5eedL)
    private val zipf = new Zipf(20000, 1.05)
    private val sources = Array("web", "books", "code", "news")
    private def word(i: Int): String = {
      val sb = new StringBuilder
      var x = i + 1
      while (x > 0) { sb.append(('a' + (x % 26)).toChar); x /= 26 }
      sb.append(i % 10).toString
    }
    private val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    private var nextId = 1L
    private var nextDup = DupIdBase

    /** the next shard's rows and its map dup id → original id */
    def next(): (Seq[Row], Map[Long, Long]) = {
      val rows = Seq.newBuilder[Row]
      val dups = Map.newBuilder[Long, Long]
      for (_ <- 0 until docsPerShard) {
        val u = r.nextDouble()
        if (texts.nonEmpty && u < exactRate + nearRate) {
          val (oid, t) = texts(r.nextInt(texts.size))
          val text =
            if (u < exactRate) t
            else "  " + t.split(" ").map(w =>
              if (r.nextInt(3) == 0) w.toUpperCase else w).mkString(if (r.nextBoolean()) "  " else " \t ") + " "
          rows += Row(nextDup, text, sources(r.nextInt(sources.length)))
          dups += nextDup -> oid
          nextDup += 1
        } else {
          val n = 40 + r.nextInt(80)
          val text = Seq.fill(n)(word(zipf.next(r))).mkString(" ")
          rows += Row(nextId, text, sources(r.nextInt(sources.length)))
          texts += nextId -> text
          nextId += 1
        }
      }
      (rows.result(), dups.result())
    }
  }
}
