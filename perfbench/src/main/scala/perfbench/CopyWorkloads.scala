package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.fs.{Path => HPath}

import graft.Graft
import graft.core.{CopyConfig, CopyTask, Fs, PathUtils}
import graft.enumerate.Enumerate
import graft.exec.Executor
import graft.plan.Planner

/** The copy workload. Every copy goes through the program's public
  * functions (`Graft.plan` then `Graft.execute`, which is what `Graft.copy`
  * does); every check walks the trees with java.nio. */
object CopyWorkloads {

  /** Layout seed: the tree's paths and sizes do not depend on the run seed. */
  val LayoutSeed = 20111L
  val FileCount = 400
  val BigFiles = 3
  val MaxDepth = 2
  val DeepDepth = 3
  def treeLayout: Layout = Trees.layout(LayoutSeed, FileCount, BigFiles, MaxDepth, DeepDepth)

  def config(args: String*): CopyConfig =
    Graft.parseArgs(args).fold(e => throw new IllegalArgumentException(e), identity)

  /** One copy through the public plan/execute pair, each call under its own
    * job group so a traced run can tell plan work from execute work. In a
    * traced run, `execBuckets` receives the bucket count `Graft.execute`
    * partitioned the copy into, read from its jobs, whether or not it failed. */
  def copy(h: Harness, kind: String, cfg: CopyConfig, counted: Boolean,
      execBuckets: Int => Unit): Either[Throwable, (Executor.CopyStats, Double)] = {
    val r = h.op(kind, counted) {
      val spark = h.spark
      spark.sparkContext.setJobGroup(s"$kind/plan", kind, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val plan = h.spans("plan")(Graft.plan(spark, cfg))
      val t1 = System.nanoTime()
      spark.sparkContext.setJobGroup(s"$kind/exec", kind, interruptOnCancel = false)
      val stats = h.spans("exec")(Graft.execute(spark, plan, cfg))
      (stats, (t1 - t0) / 1e9)
    }
    if (h.o.trace) {
      val p = h.groupStats(s"$kind/plan")
      val x = h.groupStats(s"$kind/exec")
      execBuckets(x.partitionByParts)
      if (counted) r.foreach { case ((stats, planS), _) =>
        h.sample("plan.plan_s", planS)
        h.sample("plan.jobs", p.jobs.toDouble)
        h.sample("plan.tasks", p.tasks.toDouble)
        h.sample("exec.setup_ms", stats.setupMs.toDouble)
        h.sample("exec.run_ms", stats.runMs.toDouble)
        h.sample("exec.cleanup_ms", stats.cleanupMs.toDouble)
        h.sample("exec.jobs", x.jobs.toDouble)
        h.sample("exec.task_skew", x.busiestStageSkew)
      }
    }
    r.map { case ((stats, _), s) => (stats, s) }
  }

  def expectStats(h: Harness, what: String, s: Executor.CopyStats, copied: Long, bytes: Long, dirs: Long): Unit =
    h.check(s.copied == copied && s.bytesCopied == bytes && s.failed == 0 && s.skipped == 0 && s.dirs == dirs,
      s"$what: counters $s, expected copied=$copied bytes=$bytes dirs=$dirs")

  def expectTree(h: Harness, what: String, expected: Map[String, Node], root: Path): Unit = {
    val d = Trees.diff(expected, Trees.snapshot(root))
    h.check(d.isEmpty, s"$what: ${d.mkString("; ")}")
  }

  /** Manifest of `root` built from public pieces, as the planner builds it. */
  def tasks(h: Harness, root: String): org.apache.spark.sql.Dataset[CopyTask] = {
    val spark = h.spark
    import spark.implicits._
    val q = Enumerate.qualify(root)
    Enumerate.listTree(spark, root).flatMap { m =>
      PathUtils.makeRelative(q, m.path).filter(_ != ".").map(CopyTask(m, _)).iterator
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Traced runs only: time the planner's phases one by one on the
    * workload's trees, repeat the default cold copy's bucket packing with
    * the bucket count its execution used (`buckets`, -1 when unknown), and
    * time the copy kernel alone. */
  def phaseProbes(h: Harness, layout: Layout, src: Path, dst: Path, buckets: Int): Unit = if (h.o.trace) {
    val spark = h.spark
    val (s, d) = (src.toString, dst.toString)
    locally {
      spark.sparkContext.setJobGroup("probe/enumerate", "probe", interruptOnCancel = false)
      val (n, listS) = timed {
        Enumerate.listTree(spark, s).count() + (if (Files.exists(dst)) Enumerate.listTree(spark, d).count() else 0L)
      }
      h.sample("enumerate.list_s", listS)
      h.sample("enumerate.entries", n.toDouble)
      h.sample("enumerate.jobs", h.groupStats("probe/enumerate").jobs.toDouble)
      spark.sparkContext.setJobGroup("probe/plan", "probe", interruptOnCancel = false)
      val all = tasks(h, s).localCheckpoint()
      h.sample("plan.dupcheck_s", timed(Planner.checkDuplication(all))._2)
      h.sample("plan.diff_s", timed(Planner.updateDiff(all, d, skipTs = false, skipCrc = false).count())._2)
      h.sample("plan.deletes_s", timed(Planner.deleteTargets(spark, all, d).count())._2)
      // the default packing of a cold copy of the whole tree
      if (buckets <= 0) h.log("no partitionBy job in the default cold copy: bucket overflow not measured")
      val n0 = math.max(buckets, 1)
      val (packed, packS) = timed(Planner.assignBuckets(all, n0).collect())
      h.sample("plan.pack_s", packS)
      if (buckets > 0) h.sample("plan.bucket_overflow", packed.count(_._2 >= n0).toDouble)
      val perBucket = packed.groupBy(_._2).values.map(_.map(t => if (t._1.src.isDir) 0L else t._1.src.length).sum.toDouble).toSeq
      h.sample("plan.bucket_skew", if (perBucket.isEmpty) 0.0 else perBucket.max / math.max(Stats.median(perBucket), 1.0))
      all.unpersist()
      spark.sparkContext.clearJobGroup()
      h.groupStats("probe/plan")
    }
    // the copy kernel alone: the largest files, one thread, no Spark
    val big = layout.files.sortBy(-_.size).take(5)
    val out = h.o.work.resolve("copy-one")
    for (_ <- 0 until 3) {
      val cfg = config("-pt", s, out.toString)
      val conf = Fs.conf()
      val metas = big.map(f => Enumerate.toMeta(new HPath(src.resolve(f.rel).toString).getFileSystem(conf)
        .getFileStatus(new HPath(src.resolve(f.rel).toString))) -> f.rel)
      val (_, sec) = timed(metas.foreach { case (m, rel) =>
        val r = Executor.copyOne(conf, CopyTask(m, rel), out.toString, cfg, "0")
        h.check(r.status == "COPY", s"copyOne $rel: ${r.status} ${r.error}")
      })
      h.sample("exec.copy_one_mb_per_s", big.map(_.size).sum / 1e6 / sec)
      Trees.deleteTree(out)
    }
  }

  /** One checked copy: the counters and the destination tree must match. */
  def checked(h: Harness, kind: String, cfg: CopyConfig, root: Path, expected: Map[String, Node],
      copied: Long, bytes: Long, dirs: Long, counted: Boolean = true,
      execBuckets: Int => Unit = _ => ()): Unit =
    copy(h, kind, cfg, counted, execBuckets).foreach { case (stats, _) =>
      expectStats(h, kind, stats, copied, bytes, dirs)
      expectTree(h, kind, expected, root)
    }

  /** Files of the warm-up tree: the layout's first small files at most one
    * directory deep, so its walks take few levels. */
  val WarmUpFiles = 24

  /** The untimed warm-up on a small tree: a replica laid with plain file
    * copies gets two stale files planted and three source files rewritten,
    * then one `-update -delete -pt -m 1` resync brings it back. That loads
    * and compiles the copy path's code (enumerate, plan, exec, delete-sync),
    * so the timed round measures it warm. The resync is checked but not
    * counted as an operation; with one bucket F1 cannot strike. */
  def warmUp(h: Harness, layout: Layout): Unit = {
    val files = layout.files.filter(f => f.size <= (64L << 10) && f.rel.count(_ == '/') <= 1).take(WarmUpFiles)
    val small = Layout(files.map(f => Trees.parentOf(f.rel)).filter(_.nonEmpty).distinct, files)
    val src = h.o.work.resolve("warm-src")
    val dst = h.o.work.resolve("warm-dst")
    val snap = Trees.write(src, small, h.o.seed)
    Trees.replicate(src, dst, snap)
    val content = new Trees.Content(h.o.seed)
    // stale files only, no stale directories: the walks stay two levels deep
    (small.dirs.take(1) :+ "").foreach(d => content.write(dst.resolve(d).resolve("stale.tmp"), "stale", 100, 1000L))
    val changed = small.files.take(3).map(f => f.copy(size = f.size + 100))
    val after = changed.foldLeft(snap) { (m, f) =>
      val p = src.resolve(f.rel)
      val crc = content.write(p, f.rel, f.size, 1000L)
      val mt = Trees.mtimeOf(h.o.seed, f.rel) + 1000L
      Files.setLastModifiedTime(p, FileTime.fromMillis(mt))
      m.updated(f.rel, Node(isDir = false, f.size, crc, mt))
    }
    val w0 = h.callSeconds
    checked(h, "warmup-resync", config("-update", "-delete", "-pt", "-m", "1", src.toString, dst.toString),
      dst, after, changed.length, changed.map(_.size).sum, small.dirs.length.toLong, counted = false)
    h.sample("copy.warmup_s", h.callSeconds - w0)
    Trees.deleteTree(src)
    Trees.deleteTree(dst)
  }

  /** copy: the warm-up, then timed rounds (one takes far longer than
    * `run_seconds`, so a run makes one) of four operations, always in
    * this order, all on the same seeded tree:
    *   - cold `-pt` copies into empty destinations, one with the default
    *     packing and one single-task (`-m 1`);
    *   - `-update -delete -pt` resyncs against a replica the benchmark laid
    *     with plain file copies: a prune of planted stale entries and a
    *     delta of rewritten and added files. */
  def run(h: Harness): Unit = {
    val layout = treeLayout
    val src = h.o.work.resolve("src")
    val dst = h.o.work.resolve("replica")
    val (snap, genS) = timed(Trees.write(src, layout, h.o.seed))
    Trees.replicate(src, dst, snap)
    h.log(f"generated ${layout.files.length} files, ${layout.dirs.length} dirs, ${layout.bytes / 1e6}%.1f MB in $genS%.2f s")
    warmUp(h, layout)
    val delta = Trees.delta(layout, LayoutSeed)
    val deltaBytes = delta.map(_.size).sum
    val content = new Trees.Content(h.o.seed)
    val orig = layout.files.map(f => f.rel -> f.size).toMap
    val nDirs = layout.dirs.length.toLong
    var defaultBuckets = -1
    def resync: CopyConfig = config("-update", "-delete", "-pt", src.toString, dst.toString)
    /** Put `root` back to the base tree at the delta's paths. */
    def revert(root: Path): Unit = delta.foreach { f =>
      val p = root.resolve(f.rel)
      orig.get(f.rel) match {
        case Some(size) =>
          content.write(p, f.rel, size, 0L)
          Files.setLastModifiedTime(p, FileTime.fromMillis(snap(f.rel).mtime))
        case None => Files.deleteIfExists(p)
      }
    }
    h.rounds(minRounds = 1) { k =>
      Seq("cold-default", "cold-single", "prune", "delta").foreach {
        case "cold-default" =>
          val d = h.o.work.resolve(s"cold-default-$k")
          checked(h, "cold-default", config("-pt", src.toString, d.toString), d, snap,
            layout.files.length, layout.bytes, nDirs, execBuckets = n => defaultBuckets = n)
          Trees.deleteTree(d)
        case "cold-single" =>
          val d = h.o.work.resolve(s"cold-single-$k")
          checked(h, "cold-single", config("-pt", "-m", "1", src.toString, d.toString), d, snap,
            layout.files.length, layout.bytes, nDirs)
          Trees.deleteTree(d)
        case "prune" =>
          Trees.plantStale(dst, layout, h.o.seed, k)
          checked(h, "prune", resync, dst, snap, 0, 0, nDirs)
        case "delta" =>
          var after = snap
          delta.foreach { f =>
            val p = src.resolve(f.rel)
            val crc = content.write(p, f.rel, f.size, k + 1L)
            val mt = Trees.mtimeOf(h.o.seed, f.rel) + (k + 1) * 1000L
            Files.setLastModifiedTime(p, FileTime.fromMillis(mt))
            after = after.updated(f.rel, Node(isDir = false, f.size, crc, mt))
          }
          checked(h, "delta", resync, dst, after, delta.length, deltaBytes, nDirs)
          revert(src)
          revert(dst)
      }
    }
    Seq("prune", "delta").foreach(k => h.sample(s"resync.${k}_s", h.kindMedian(k)))
    h.sample("copy.cold_single_s", h.kindMedian("cold-single"))
    h.sample("copy.cold_default_s", h.kindMedian("cold-default"))
    h.sample("copy.cold_mb_per_s", layout.bytes / 1e6 / h.kindMedian("cold-single"))
    phaseProbes(h, layout, src, dst, defaultBuckets)
  }
}
