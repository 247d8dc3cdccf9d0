package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.lake.{LakeTable, LakeTableConfig, TableDescriptor}
import graft.ops.MinHashDedupIndex

/** The three workloads. Sizes are fixed here so that the same seed always
  * means the same inputs; see perfbench/README.md for why each workload
  * exists and what it stresses. */
object Workloads {

  // ---- sizes ----------------------------------------------------------
  val CdcBaseRows = 10000
  val CdcBatchRows = 100 // 1% of the keys per commit
  // batches staged before the run; a run that needs more stages the next
  // ones between its operations, so the loop never runs out of input
  val CdcBatches = 20
  // batches 2, 5, 8, … delete: the warm-up (batches 1 and 2) runs both
  // write paths once, and each timed cycle is upsert, upsert, delete
  val CdcCycle = 3
  val CdcWarmup = 2
  val CdcRetain = 10

  val LqBaseRows = 10000
  val LqBatchRows = 100
  // a history longer than the commit-log checkpoint cadence, so readers
  // resolve a checkpoint plus a tail; the cadence is lowered from the
  // default 16 to keep the history's set-up cost inside the run budget
  val LqCheckpointEvery = 2
  val LqCommits = 3
  val LqDeleteEvery = 3

  val DdDocsPerShard = 200
  val DdShards = 8 // staged per set-up; more are staged when a run needs them
  val DdExactRate = 0.04
  val DdNearRate = 0.04
  // band-hash buckets of the MinHash index; the default 32 is sized for
  // corpora far above this one's few thousand documents
  val DdBuckets = 8

  val SetupRepeats = 2

  def run(workload: String, r: Run): Unit = workload match {
    case "cdc_ingest" => cdcIngest(r)
    case "lake_query" => lakeQuery(r)
    case "dedup_stream" => dedupStream(r)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Write one workload's staged inputs and nothing else (self-test). */
  def stageOnly(spark: SparkSession, workload: String, seed: Long, dir: String): Unit =
    workload match {
      case "cdc_ingest" => new StagedHistory(spark, seed, dir, CdcBaseRows, CdcBatchRows,
        CdcCycle).ensure(CdcBatches)
      case "lake_query" => new StagedHistory(spark, seed, dir, LqBaseRows, LqBatchRows,
        LqDeleteEvery).ensure(LqCommits)
      case "dedup_stream" => new StagedCorpus(spark, seed, dir).ensure(DdShards)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  // ---- staging ----------------------------------------------------------

  /** A seeded change history staged as Parquet: `base/`, then
    * `upserts/_b=<c>/` and `deletes/_b=<c>/` for batches c = 1, 2, …
    * Batches are generated in order and staged in chunks, as many as the
    * run asks for through `ensure`; a batch's rows do not depend on the
    * chunk it was staged in. */
  final class StagedHistory(spark: SparkSession, seed: Long, val dir: String,
      baseRows: Int, batchRows: Int, deleteEvery: Int) {
    private val h = new Gen.History(seed, baseRows, batchRows, deleteEvery,
      staleShare = 0.1, newShare = 0.1)
    val baseBytes: Long = Gen.stage(spark, h.base, Gen.LineitemSchema, s"$dir/base")
    /** the kind of each staged batch 1..n */
    val kinds = mutable.ArrayBuffer.empty[String]
    var batchBytes = 0L

    /** stage batches until at least `n` are staged */
    def ensure(n: Int): Unit = if (kinds.size < n) {
      val bs = (kinds.size + 1 to n).map(c => c -> h.batch(c))
      kinds ++= bs.map(_._2.kind)
      def withB(s: StructType) = s.add(StructField("_b", IntegerType, nullable = false))
      for ((kind, schema) <- Seq("upsert" -> Gen.LineitemSchema, "delete" -> Gen.DeleteSchema)) {
        val mine = bs.filter(_._2.kind == kind)
        if (mine.nonEmpty) {
          val rows = mine.flatMap { case (c, b) => b.rows.map(x => Row.fromSeq(x.toSeq :+ c)) }
          spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), withB(schema))
            .write.mode("append").partitionBy("_b").parquet(s"$dir/${kind}s")
          batchBytes += mine.map(c => Gen.stagedBytes(spark, batchDir(c._1))).sum
        }
      }
    }

    def batchDir(c: Int): String = { ensure(c); s"$dir/${kinds(c - 1)}s/_b=$c" }
  }

  /** Fold the staged history into the model — read back from the staged
    * files with plain Spark, so the model sees exactly the engine's input */
  def modelOf(spark: SparkSession, s: StagedHistory, applied: Int): KeyedModel = {
    val m = new KeyedModel
    val cols = Gen.LineitemSchema.fieldNames.map(col).toSeq
    m.bulk(spark.read.parquet(s"${s.dir}/base").select(cols: _*).collect())
    def byBatch(kind: String, sel: Seq[String]): Map[Int, Array[Row]] =
      if (!s.kinds.take(applied).contains(kind)) Map.empty
      else spark.read.parquet(s"${s.dir}/${kind}s").filter(col("_b") <= applied)
        .select((col("_b") +: sel.map(col)): _*).collect()
        .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(r => Row.fromSeq(r.toSeq.tail)) }
    val ups = byBatch("upsert", Gen.LineitemSchema.fieldNames.toSeq)
    val dels = byBatch("delete", Seq("l_orderkey", "l_linenumber"))
    for (c <- 1 to applied) s.kinds(c - 1) match {
      case "upsert" => m.upsert(ups(c))
      case "delete" => m.delete(dels(c).map(r => (r.getLong(0), r.getInt(1))))
    }
    m
  }

  /** The dedup corpus staged as Parquet, one `_b=<i>` directory per
    * shard, staged in chunks as many as the run asks for; `dups(i)` maps
    * shard i's injected duplicates to their originals. */
  final class StagedCorpus(spark: SparkSession, seed: Long, val dir: String) {
    private val corpus = new Gen.Corpus(seed, DdDocsPerShard, DdExactRate, DdNearRate)
    val dups = mutable.ArrayBuffer.empty[Map[Long, Long]]
    var bytes = 0L

    def ensure(n: Int): Unit = if (dups.size < n) {
      val from = dups.size
      val shards = (from until n).map(_ => corpus.next())
      dups ++= shards.map(_._2)
      val rows = shards.zipWithIndex.flatMap { case ((rs, _), i) =>
        rs.map(x => Row.fromSeq(x.toSeq :+ (from + i))) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          Gen.DocSchema.add(StructField("_b", IntegerType, nullable = false)))
        .write.mode("append").partitionBy("_b").parquet(dir)
      bytes += (from until n).map(i => Gen.stagedBytes(spark, shardDir(i))).sum
    }

    def shardDir(i: Int): String = { ensure(i + 1); s"$dir/_b=$i" }
  }

  private def lineitemConfig(root: String, storage: String): LakeTableConfig =
    LakeTableConfig(root, keyCols = Gen.KeyCols, precombineCol = "l_ts",
      partitionCols = Seq("l_shipmonth"), storageType = storage,
      statsCols = Gen.KeyCols, bloomKeys = 2000)

  private def userRows(df: DataFrame): Array[Row] =
    df.select(Gen.LineitemSchema.fieldNames.map(col).toSeq: _*).collect()

  private def checkSnapshot(r: Run, name: String, t: LakeTable, m: KeyedModel): Unit = {
    val got = userRows(t.read())
    val want = m.latest.values
    val (gh, wh) = (KeyedModel.hash(got.iterator.map(KeyedModel.canon)),
      KeyedModel.hash(want.iterator.map(_.text)))
    r.check(s"$name snapshot", got.length == want.size && gh == wh,
      s"rows ${got.length} vs model ${want.size}, hash $gh vs $wh")
  }

  // ---- cdc_ingest -------------------------------------------------------

  /** The reference's main loop: seeded upsert batches (updates favouring
    * the newest months, new keys, stale rows that must lose), a delete
    * batch every few commits, the cleaner after every commit (Hudi's
    * inline cleaner, KEEP_LATEST_COMMITS = 10), and a downstream consumer
    * pulling each commit's changes as soon as it lands. */
  def cdcIngest(r: Run): Unit = {
    val spark = r.spark
    // inputs are staged once; each set-up bulk-inserts the base into a
    // fresh table, and the last one is used
    val staged = new StagedHistory(spark, r.seed, s"${r.work}/stage", CdcBaseRows,
      CdcBatchRows, CdcCycle)
    staged.ensure(CdcBatches)
    val table = r.setup(SetupRepeats) { k =>
      val t = LakeTable(spark, lineitemConfig(s"${r.work}/cdc$k", "cow"))
      t.bulkInsert(Gen.read(spark, s"${staged.dir}/base"))
      t
    }
    r.facts ++= Seq("base_rows" -> CdcBaseRows.toDouble,
      "staged_base_bytes" -> staged.baseBytes.toDouble,
      "partitions" -> Gen.Months.size.toDouble,
      "live_files_at_start" -> table.log.liveFiles().size.toDouble)
    val pulled = mutable.ArrayBuffer.empty[(Long, Long)]
    var applied = 0
    var inBytes = 0L
    val fs0 = FsStats.now()
    r.loop(CdcCycle, CdcWarmup) { i =>
      val c = i + 1
      val dir = staged.batchDir(c)
      val kind = staged.kinds(c - 1)
      val batch = Gen.read(spark, dir)
      val rows = if (kind == "delete") CdcBatchRows / 2 else CdcBatchRows
      val opId = r.ops.size
      var id = -1L; var cleaned = 0; var n = 0L
      val ok = r.op("commit", rows) { p =>
        id = if (kind == "delete")
          r.part(p, "lake.delete")(table.delete(Gen.deleteKeys(batch)))
        else r.part(p, "lake.upsert")(table.upsert(batch))
        cleaned = r.part(p, "lake.clean")(table.clean(CdcRetain))
        n = r.part(p, "changes.pull") {
          spark.read.format("graft").option("readChangeFeed", "true")
            .option("startingVersion", id).option("endingVersion", id)
            .load(table.config.root).count()
        }
        pulled += id -> n
      }
      if (ok && r.tracer.enabled) {
        r.commitLayer(opId, table, id, "lake")
        r.layer(opId, "lake.input_rows", rows)
        r.layer(opId, "lake.clean_files_deleted", cleaned)
        r.layer(opId, "changes.rows", n)
        r.layer(opId, "result_rows", n)
        r.resolveLayer(opId, table)
      }
      if (ok) { applied = c; inBytes += Gen.stagedBytes(spark, dir) }
      ok
    }
    val fsd = FsStats.now() - fs0
    val m = modelOf(spark, staged, applied)
    pulled.foreach { case (id, n) =>
      r.check(s"change pull $id", n == m.changeRows(id), s"$n rows vs model ${m.changeRows(id)}")
    }
    checkSnapshot(r, "cdc_ingest", table, m)
    r.facts ++= Seq("commits" -> applied.toDouble,
      "staged_input_bytes" -> inBytes.toDouble,
      "bytes_written" -> fsd.bytesWritten.toDouble,
      "table_bytes" -> r.du(table.config.root).toDouble,
      "live_bytes" -> r.liveBytes(table).toDouble,
      "live_files" -> table.log.liveFiles().size.toDouble)
  }

  // ---- lake_query -------------------------------------------------------

  /** Read-only mix over a CoW and a MoR table with the same history,
    * issued through the graft SQL catalog: Zipf-skewed point lookups,
    * scans (partition range, full aggregate, count), and history reads
    * (time travel, a change window with pre-images, a streaming catch-up
    * tail). Writes happen only in set-up. */
  def lakeQuery(r: Run): Unit = {
    val spark = r.spark
    // inputs are staged once; then two set-ups, one per storage type, each
    // replay the history into their own table, so set-up is measured twice
    // without building a table the timed phase would not read
    val staged = new StagedHistory(spark, r.seed, s"${r.work}/stage", LqBaseRows,
      LqBatchRows, LqDeleteEvery)
    staged.ensure(LqCommits)
    val fs0 = FsStats.now()
    val tables = Seq("cow", "mor").map { st =>
      r.setup(1) { _ =>
        val name = s"lq_$st"
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.bench")
        spark.sql(s"""CREATE TABLE graft.bench.$name (
            l_orderkey BIGINT NOT NULL, l_linenumber INT NOT NULL, l_partkey BIGINT,
            l_suppkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE,
            l_discount DOUBLE, l_returnflag STRING, l_linestatus STRING,
            l_shipmode STRING, l_comment STRING, l_ts BIGINT NOT NULL,
            l_shipmonth STRING NOT NULL, l_shipyear STRING NOT NULL)
          PARTITIONED BY (l_shipyear)
          TBLPROPERTIES (keyCols='l_orderkey,l_linenumber', precombineCol='l_ts',
            storageType='$st', statsCols='l_orderkey,l_linenumber', bloomKeys='2000',
            checkpointEvery='$LqCheckpointEvery')""")
        val root = s"${r.work}/wh/bench/$name"
        val t = LakeTable(spark, TableDescriptor.load(root, r.hconf).get.config(root))
        t.upsert(Gen.read(spark, s"${staged.dir}/base"))
        for (c <- 1 to LqCommits) {
          val b = Gen.read(spark, staged.batchDir(c))
          if (staged.kinds(c - 1) == "delete") t.delete(Gen.deleteKeys(b)) else t.upsert(b)
        }
        name -> t
      }
    }
    val fsd = FsStats.now() - fs0
    val m = modelOf(spark, staged, LqCommits)
    require(tables.forall(_._2.log.latestId.contains(m.head)),
      "set-up commit ids do not line up with the model's")
    r.facts ++= Seq("base_rows" -> LqBaseRows.toDouble, "commits" -> (m.head + 1).toDouble,
      "partitions" -> Gen.Months.map(_.take(4)).distinct.size.toDouble,
      "staged_bytes" -> (staged.baseBytes + staged.batchBytes).toDouble,
      // each table's set-up consumes the whole staged history once
      "staged_input_bytes" -> 2.0 * (staged.baseBytes + staged.batchBytes),
      "bytes_written" -> fsd.bytesWritten.toDouble,
      "live_files_cow" -> tables(0)._2.log.liveFiles().size.toDouble,
      "live_files_mor" -> tables(1)._2.log.liveFiles().size.toDouble,
      "mor_delta_files" -> tables(1)._2.log.liveFiles().count(_.isDelta).toDouble,
      "live_bytes" -> tables.map(t => r.liveBytes(t._2)).sum.toDouble,
      "table_bytes" -> tables.map(t => r.du(t._2.config.root)).sum.toDouble)

    val rnd = new SplittableRandom(r.seed * 31 + 7)
    val keys = m.at(0).keys.toIndexedSeq.sortBy(identity)
    val perm = {
      val a = keys.indices.toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
      a
    }
    val zipf = new Gen.Zipf(keys.size)
    // one cycle runs every query kind on both tables (the streaming tail,
    // which mostly pays the stream's start-up, on the MoR table only), so
    // every run reads the same mix; one untimed cycle first generates and
    // compiles each query shape. History reads use fixed versions (time
    // travel to the commit before the head, changes over the whole
    // history, a tail from the first commit after the base) so their cost
    // does not vary by seed.
    val kinds = Seq("lookup", "scan_range", "scan_full", "scan_count",
      "history_asof", "history_changes")
    val cycle = kinds.flatMap(k => Seq(k -> 0, k -> 1)) :+ ("history_tail" -> 1)
    val pending = mutable.ArrayBuffer.empty[() => Unit]
    r.loop(cycle.size, cycle.size) { i =>
      val (kind, ti) = cycle(i % cycle.size)
      val (name, t) = tables(ti)
      val q = s"graft.bench.$name"
      val opId = r.ops.size
      def sql(p: mutable.Map[String, Double], text: String): Array[Row] = {
        val df = r.part(p, "sql.build")(spark.sql(text))
        r.part(p, "execute")(df.collect())
      }
      kind match {
        case "lookup" =>
          val k = keys(perm(zipf.next(rnd)))
          r.op("lookup", 0) { p =>
            val got = sql(p, s"SELECT * FROM $q WHERE l_orderkey = ${k._1} AND l_linenumber = ${k._2}")
            r.layer(opId, "result_rows", got.length)
            pending += (() => {
              val want = m.latest.get(k).map(_.text).toSeq
              val g = got.map(x => KeyedModel.canon(Row.fromSeq(
                Gen.LineitemSchema.fieldNames.toSeq.map(f => x.get(x.fieldIndex(f))))))
              r.check(s"lookup $q $k", g.toSeq == want, s"${g.toSeq} vs $want")
            })
          }
        case "scan_range" | "scan_full" | "scan_count" =>
          r.op(kind, 0) { p =>
            kind match {
              case "scan_range" =>
                val a = 1992 + rnd.nextInt(6)
                val (lo, hi) = (a.toString, (a + 1).toString)
                val got = sql(p, s"SELECT count(*), sum(l_quantity) FROM $q " +
                  s"WHERE l_shipyear BETWEEN '$lo' AND '$hi'")
                r.layer(opId, "result_rows", got.length)
                pending += (() => {
                  val sel = m.latest.values.filter(v => v.month.take(4) >= lo && v.month.take(4) <= hi)
                  val want = (sel.size.toLong, sel.map(_.qty).sum)
                  r.check(s"range $q $lo..$hi", got(0).getLong(0) == want._1 &&
                    got(0).getDouble(1) == want._2, s"${got(0)} vs $want")
                })
              case "scan_full" =>
                val got = sql(p, s"SELECT l_returnflag, l_linestatus, count(*), " +
                  s"sum(l_quantity), max(l_ts) FROM $q GROUP BY 1, 2")
                r.layer(opId, "result_rows", got.length)
                pending += (() => {
                  val want = m.latest.values.groupBy(v => (v.flag, v.status)).map {
                    case (g, vs) => g -> (vs.size.toLong, vs.map(_.qty).sum, vs.map(_.ts).max) }
                  val g = got.map(x => (x.getString(0), x.getString(1)) ->
                    (x.getLong(2), x.getDouble(3), x.getLong(4))).toMap
                  r.check(s"full aggregate $q", g == want, s"$g vs $want")
                })
              case _ =>
                val got = sql(p, s"SELECT count(*) FROM $q")
                r.layer(opId, "result_rows", got.length)
                pending += (() => r.check(s"count $q", got(0).getLong(0) == m.latest.size,
                  s"${got(0)} vs ${m.latest.size}"))
            }
          }
        case _ =>
          r.op(kind, 0) { p =>
            kind match {
              case "history_asof" =>
                val v = m.head - 1
                val got = sql(p, s"SELECT count(*), sum(l_quantity) FROM $q VERSION AS OF $v")
                r.layer(opId, "result_rows", got.length)
                pending += (() => {
                  val s = m.at(v).values
                  r.check(s"as of $v $q", got(0).getLong(0) == s.size &&
                    got(0).getDouble(1) == s.map(_.qty).sum, s"${got(0)} vs ${s.size}")
                })
              case "history_changes" =>
                val (a, b) = (0L, m.head)
                val got = r.part(p, "changes.pull")(sql(p,
                  s"SELECT _change_type, count(*) FROM graft_changes('${t.config.root}', $a, $b, true) " +
                    "GROUP BY _change_type"))
                r.layer(opId, "changes.rows", got.map(_.getLong(1)).sum)
                r.layer(opId, "result_rows", got.length)
                pending += (() => {
                  val g = got.map(x => x.getString(0) -> x.getLong(1)).toMap
                  r.check(s"changes $a..$b $q", g == m.changesWithPre(a, b),
                    s"$g vs ${m.changesWithPre(a, b)}")
                })
              case _ =>
                val from = 1L
                var rows = 0L
                r.part(p, "changes.pull") {
                  val src = r.part(p, "sql.build")(spark.readStream
                    .option("changeTypes", "true").option("startingCommit", from).table(q))
                  val w = src.writeStream.trigger(Trigger.AvailableNow())
                    .option("checkpointLocation", s"${r.work}/ckpt/$opId")
                    .foreachBatch((df: DataFrame, _: Long) => rows += df.count())
                    .start()
                  r.part(p, "execute")(w.awaitTermination())
                }
                r.layer(opId, "changes.rows", rows)
                r.layer(opId, "result_rows", 1)
                pending += (() => r.check(s"tail from $from $q", rows == m.tailRows(from, m.head),
                  s"$rows vs ${m.tailRows(from, m.head)}"))
            }
          }
      }
      if (r.tracer.enabled) {
        val live = t.log.liveFiles()
        r.layer(opId, "scan.files_live", live.size)
        r.layer(opId, "mor.delta_files", live.count(_.isDelta))
        r.resolveLayer(opId, t)
      }
      r.ops.last.ok
    }
    pending.foreach(_())
  }

  // ---- dedup_stream -----------------------------------------------------

  /** A document stream in shards with injected exact and near duplicates:
    * each shard runs the incremental MinHash index (tokenize, shingle,
    * MinHash, band joins, MoR delta appends with inline compaction), then
    * its survivors are upserted into a curated CoW table. */
  def dedupStream(r: Run): Unit = {
    val spark = r.spark
    val dir = s"${r.work}/docs"
    val (corpus, idx, curated) = r.setup(SetupRepeats) { k =>
      val s = new StagedCorpus(spark, r.seed, s"$dir$k")
      s.ensure(DdShards)
      val idx = new MinHashDedupIndex(spark, s"${r.work}/dedup$k/index", nBuckets = DdBuckets)
      val curated = LakeTable(spark, LakeTableConfig(s"${r.work}/dedup$k/curated",
        keyCols = Seq("doc_id"), precombineCol = "doc_id", partitionCols = Seq("source")))
      (s, idx, curated)
    }
    val verdicts = mutable.ArrayBuffer.empty[(Int, Array[Row])]
    var inBytes = 0L
    val fs0 = FsStats.now()
    // the warm-up builds the index (shard 0) and runs one incremental
    // ingest (shard 1); a timed cycle is two shards, so the mean of a run
    // never rests on a single shard
    r.loop(2, 2) { i =>
      val shard = corpus.shardDir(i)
      val batch = Gen.read(spark, shard)
      val opId = r.ops.size
      var id = -1L; var flagged = 0
      val ok = r.op("shard", DdDocsPerShard) { p =>
        val v = r.part(p, "dedup.ingest") {
          val out = idx.ingest(batch.select("doc_id", "text"))
          try out.collect() finally out.unpersist()
        }
        verdicts += i -> v
        val keep = spark.createDataFrame(spark.sparkContext.parallelize(
            v.filter(_.isNullAt(1)).map(x => Row(x.getLong(0))).toSeq, 1),
          StructType(Seq(StructField("doc_id", LongType))))
        val survivors = batch.join(keep, "doc_id")
        id = r.part(p, "curate.upsert")(curated.upsert(survivors))
        flagged = v.count(!_.isNullAt(1))
      }
      if (ok && r.tracer.enabled) {
        r.layer(opId, "dedup.docs", DdDocsPerShard)
        r.layer(opId, "dedup.flagged", flagged)
        r.layer(opId, "result_rows", DdDocsPerShard)
        val live = idx.bands.log.liveFiles() ++ idx.docs.log.liveFiles()
        r.layer(opId, "dedup.index_live_files", live.size)
        r.layer(opId, "dedup.index_delta_files", live.count(_.isDelta))
        r.commitLayer(opId, curated, id, "lake")
        r.layer(opId, "lake.input_rows", DdDocsPerShard)
        r.resolveLayer(opId, curated)
      }
      if (ok) inBytes += Gen.stagedBytes(spark, shard)
      ok
    }
    val fsd = FsStats.now() - fs0
    var survivors = 0L
    verdicts.foreach { case (i, v) =>
      val want = corpus.dups(i)
      val got = v.filter(!_.isNullAt(1)).map(x => x.getLong(0) -> x.getLong(1)).toMap
      survivors += v.length - got.size
      r.check(s"dedup flags shard $i", got == want && v.length == DdDocsPerShard,
        s"flagged ${got.size} vs injected ${want.size}; " +
          s"missed ${(want.keySet -- got.keySet).take(5)} extra ${(got.keySet -- want.keySet).take(5)}")
    }
    val n = curated.read().count()
    r.check("curated rows", n == survivors, s"$n vs $survivors survivors")
    r.facts ++= Seq("docs_per_shard" -> DdDocsPerShard.toDouble,
      "shards" -> verdicts.size.toDouble,
      "staged_input_bytes" -> inBytes.toDouble,
      "staged_corpus_bytes" -> corpus.bytes.toDouble,
      "bytes_written" -> fsd.bytesWritten.toDouble,
      "table_bytes" -> Seq(curated.config.root, idx.bands.config.root,
        idx.docs.config.root).map(r.du).sum.toDouble,
      "live_bytes" -> Seq(curated, idx.bands, idx.docs).map(r.liveBytes).sum.toDouble,
      "live_files" -> Seq(curated, idx.bands, idx.docs).map(_.log.liveFiles().size).sum.toDouble)
  }
}
