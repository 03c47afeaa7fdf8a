package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.Graft

/** query-mix: fixed registry queries over the corpus in two classes. The
  * first pass is the warm-up: it runs cold in a fresh session, in a fixed
  * order, and its rows are written out for the DuckDB oracle check. The
  * timed passes run the same queries in a seeded order and must return the
  * same rows. */
object QueryMix {

  val Relational: Seq[String] = Seq("q01_filter_project", "q05_multiway_join", "q09_window_rank")

  /** One query per iterative family, keyed by the family's operator metric. */
  val Dedup: Seq[(String, String)] = Seq(
    "t170_lsh_recall_power" -> "lsh",
    "t151_dedup_triangles" -> "cc",
    "t122_bpe_train" -> "bpe")

  /** Canonical text of a value: doubles at 4 decimals, as the oracle check
    * compares them; nested values element by element. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else java.lang.String.format(java.util.Locale.ROOT, "%.4f", Double.box(d + 0.0))
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (a, b) => canon(a) + ":" + canon(b) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case x => x.toString
  }

  def digest(rows: Array[Row]): (Int, Int) =
    (rows.length, scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(canon)))

  def run(h: Harness): Unit = {
    val dir = h.o.data.toString
    val results = h.o.work.resolve("results")
    val digests = scala.collection.mutable.Map.empty[String, (Int, Int)]
    val names = Relational ++ Dedup.map(_._1)
    val family = Dedup.toMap
    val order = new scala.util.Random(h.o.seed)
    // per-class counters of the current timed pass (traced runs)
    val passStats = scala.collection.mutable.Map.empty[String, GroupStats]
    val passSec = scala.collection.mutable.Map.empty[String, Double]
    var ckptSum = 0.0

    /** One pass over every query; `warmUp` marks the first. */
    def pass(warmUp: Boolean): Unit = {
      val classes = Seq("relational" -> Relational, "dedup" -> Dedup.map(_._1))
      val runs = classes.flatMap { case (cls, qs) => qs.map(cls -> _) }
      for ((cls, q) <- if (warmUp) runs else order.shuffle(runs)) {
        val r = h.op(q, counted = !warmUp) {
          val df = Graft.query(h.spark, dir, q)
          val rows = df.collect()
          // RDD blocks the query left materialised (local checkpoints)
          val ckptMb =
            if (h.o.trace) h.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
            else 0.0
          (df.schema, rows, ckptMb)
        }
        val g = h.groupStats(q)
        r.foreach { case ((schema, rows, ckptMb), sec) =>
          val dg = digest(rows)
          if (warmUp) {
            digests(q) = dg
            h.spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(results.resolve(q).toString)
          } else {
            h.check(digests.get(q).contains(dg), s"$q: rows differ from the first pass")
            if (h.o.trace) {
              passStats(cls).add(g)
              passSec(cls) += sec
              if (cls == "dedup") ckptSum += ckptMb
              family.get(q).foreach(f => h.sample(s"operators.${f}_s", sec))
            }
          }
        }
      }
    }

    val w0 = h.callSeconds
    pass(warmUp = true)
    h.sample("queries.first_pass_s", h.callSeconds - w0)
    // two timed passes: the first after the warm-up still compiles code
    h.rounds(minRounds = 2) { _ =>
      Seq("relational", "dedup").foreach { c => passStats(c) = new GroupStats; passSec(c) = 0.0 }
      ckptSum = 0.0
      pass(warmUp = false)
      if (h.o.trace) Seq("relational", "dedup").foreach { cls =>
        val agg = passStats(cls)
        h.sample(s"queries.$cls.pass_s", passSec(cls))
        h.sample(s"queries.$cls.jobs", agg.jobs.toDouble)
        h.sample(s"queries.$cls.tasks", agg.tasks.toDouble)
        h.sample(s"queries.$cls.executor_s", agg.executorMs / 1e3)
        h.sample(s"queries.$cls.shuffle_mb", agg.shuffleBytes / 1048576.0)
        if (cls == "dedup") h.sample("queries.dedup.checkpoint_mb", ckptSum)
      }
    }
    // the job floor: an empty plan through the noop sink
    if (h.o.trace) for (_ <- 0 until 5) {
      val t0 = System.nanoTime()
      h.spark.range(1).write.format("noop").mode("overwrite").save()
      h.sample("queries.floor_s", (System.nanoTime() - t0) / 1e9)
    }
    Files.writeString(results.resolve("oracle_sql.json"), Js.obj(names.flatMap(q =>
      graft.SparkEntry.oracleSql.get(q).map(sql => q -> Js.str(sql)))))
  }
}
