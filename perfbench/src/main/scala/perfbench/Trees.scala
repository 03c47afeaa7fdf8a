package perfbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor, StandardOpenOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.SplittableRandom
import java.util.zip.CRC32C

import scala.collection.mutable

/** One generated file: its path relative to the tree root and its length. */
final case class FileSpec(rel: String, size: Long)

/** A tree layout: every directory (relative, parents before children) and
  * every file. */
final case class Layout(dirs: Vector[String], files: Vector[FileSpec]) {
  def bytes: Long = files.iterator.map(_.size).sum
}

/** What a java.nio walk sees at one relative path. */
final case class Node(isDir: Boolean, size: Long, crc: Long, mtime: Long)

/** Seeded tree generation, mutation and checking, written against java.nio
  * only: nothing here calls the program under test.
  *
  * The layout (paths and sizes) is drawn from a fixed layout seed, so the
  * packing behaviour of every copy, which reads lengths in path order only,
  * is the same for every run seed. The run seed picks file contents,
  * modification times and the stale entries planted into destinations.
  */
object Trees {

  /** 2020-09-13T12:26:40Z; generated mtimes are whole seconds after it. */
  val BaseMtime: Long = 1600000000000L

  /** Sums that are 1 mod 840 are not divisible by any slot count 2..8. */
  private val Lcm2to8 = 840L

  private val Words = Vector(
    "alpha", "beta", "gamma", "delta", "logs", "data", "part", "shard", "raw", "img",
    "café", "naïve", "日本語", "данные", "résumé", "with space", "x-y_z", "v1.2")

  /** A long-tailed layout of `nFiles` files, at most `maxDepth` levels deep
    * plus a few chains `deepDepth` levels deep, with `nBig` files that each
    * hold a ninth to a sixteenth of the other files' bytes. Sizes are shaped so that a greedy packer aiming at total/n bytes
    * per bucket needs more than n buckets for every n in 2..8: no file
    * exceeds total/8 and total is 1 mod 840. */
  def layout(seed: Long, nFiles: Int, nBig: Int, maxDepth: Int, deepDepth: Int): Layout = {
    val r = new SplittableRandom(seed)
    val dirs = mutable.LinkedHashSet.empty[String]
    // a pool of directories: a fan-out tree plus deep and unicode chains
    val pool = mutable.ArrayBuffer("")
    val nDirs = math.max(nFiles / 40, 8)
    while (pool.length < nDirs) {
      val parent = pool(r.nextInt(pool.length))
      val depth = if (parent.isEmpty) 0 else parent.count(_ == '/') + 1
      if (depth < maxDepth) {
        val name =
          if (r.nextInt(10) == 0) s"${Words(r.nextInt(Words.length))}-${pool.length}"
          else f"d${pool.length}%05d"
        pool += (if (parent.isEmpty) name else s"$parent/$name")
      }
    }
    for (c <- 0 until 3) {
      var p = s"deep$c"
      pool += p
      for (i <- 1 until deepDepth) { p = s"$p/${Words(i % Words.length)}$i"; pool += p }
    }
    def logUniform(lo: Long, hi: Long): Long =
      math.exp(math.log(lo.toDouble) + r.nextDouble() * (math.log(hi.toDouble) - math.log(lo.toDouble))).toLong
    val drawn = Vector.tabulate(nFiles) { i =>
      val dir = pool(r.nextInt(pool.length))
      val u = r.nextDouble()
      val size =
        if (i < nBig) -1L // sized below, from the rest of the tree
        else if (u < 0.03) 0L
        else if (u < 0.50) logUniform(16, 4L << 10)
        else if (u < 0.85) logUniform(4L << 10, 64L << 10)
        else if (u < 0.985) logUniform(64L << 10, 512L << 10)
        else logUniform(512L << 10, 3L << 20)
      val ext = Vector(".bin", ".txt", ".parquet", ".log", "")(r.nextInt(5))
      val name = if (r.nextInt(50) == 0) s"${Words(r.nextInt(Words.length))} $i$ext" else f"f$i%06d$ext"
      FileSpec(if (dir.isEmpty) name else s"$dir/$name", size)
    }
    // the few big files: each a ninth to a sixteenth of the rest of the tree
    // (and no other file above a twelfth of the total of the others)
    val rest = drawn.iterator.map(_.size).filter(_ > 0).sum
    val files = drawn.map(f =>
      if (f.size < 0) f.copy(size = logUniform(rest / 16, rest / 9)) else f.copy(size = math.min(f.size, rest / 12)))
    val fixed = fixTotal(files)
    fixed.foreach { f =>
      var d = parentOf(f.rel)
      val chain = mutable.ArrayBuffer.empty[String]
      while (d.nonEmpty) { chain += d; d = parentOf(d) }
      chain.reverseIterator.foreach(dirs += _)
    }
    pool.filter(_.nonEmpty).foreach { p =>
      var d = p
      val chain = mutable.ArrayBuffer.empty[String]
      while (d.nonEmpty) { chain += d; d = parentOf(d) }
      chain.reverseIterator.foreach(dirs += _)
    }
    Layout(dirs.toVector, fixed)
  }

  /** Adjust the last non-empty file so the total is 1 mod 840, and check no
    * file exceeds an eighth of the total. */
  def fixTotal(files: Vector[FileSpec]): Vector[FileSpec] = {
    val total = files.iterator.map(_.size).sum
    val i = files.lastIndexWhere(_.size > 1000)
    require(i >= 0, "layout has no file to adjust")
    val delta = Math.floorMod(1L - total, Lcm2to8)
    val out = files.updated(i, files(i).copy(size = files(i).size + delta))
    val sum = out.iterator.map(_.size).sum
    require(out.forall(_.size <= sum / 8), s"a file exceeds total/8 (${out.map(_.size).max} of $sum)")
    out
  }

  def parentOf(rel: String): String = {
    val k = rel.lastIndexOf('/')
    if (k < 0) "" else rel.substring(0, k)
  }

  /** Per-run content source: a 1 MiB seeded block; every file is a window
    * into it, starting at an offset derived from (seed, path), with the path
    * hash stamped over the first bytes so equal-length files differ. */
  final class Content(seed: Long) {
    private val block: Array[Byte] = {
      val b = new Array[Byte](1 << 20)
      val r = new SplittableRandom(seed)
      var i = 0
      while (i < b.length) {
        var v = r.nextLong(); var k = 0
        while (k < 8 && i < b.length) { b(i) = v.toByte; v >>>= 8; i += 1; k += 1 }
      }
      b
    }

    def write(file: Path, rel: String, size: Long, salt: Long): Long = {
      Files.createDirectories(file.getParent)
      val h = (rel.hashCode.toLong * 0x9E3779B97F4A7C15L) ^ (seed * 31 + salt)
      val crc = new CRC32C
      val ch = FileChannel.open(file, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING)
      try {
        val stampLen = math.min(8L, size).toInt
        val stamp = ByteBuffer.wrap(ByteBuffer.allocate(8).putLong(h).array(), 0, stampLen)
        crc.update(stamp.duplicate())
        while (stamp.hasRemaining) ch.write(stamp)
        var off = Math.floorMod(h, block.length.toLong).toInt
        var left = size - stampLen
        while (left > 0) {
          val n = math.min(left, (block.length - off).toLong).toInt
          val buf = ByteBuffer.wrap(block, off, n)
          crc.update(buf.duplicate())
          while (buf.hasRemaining) ch.write(buf)
          left -= n
          off = 0
        }
      } finally ch.close()
      crc.getValue
    }
  }

  /** Seeded whole-second mtime for a path. */
  def mtimeOf(seed: Long, rel: String): Long =
    BaseMtime + Math.floorMod(rel.hashCode.toLong * 1000003L + seed * 7919L, 86400L * 365) * 1000L

  /** Write `layout` under `root`; returns the expected snapshot. */
  def write(root: Path, layout: Layout, seed: Long): Map[String, Node] = {
    val content = new Content(seed)
    val out = Map.newBuilder[String, Node]
    Files.createDirectories(root)
    layout.dirs.foreach { d =>
      Files.createDirectories(root.resolve(d))
      out += d -> Node(isDir = true, 0L, 0L, 0L)
    }
    layout.files.foreach { f =>
      val p = root.resolve(f.rel)
      val crc = content.write(p, f.rel, f.size, 0L)
      val mt = mtimeOf(seed, f.rel)
      Files.setLastModifiedTime(p, FileTime.fromMillis(mt))
      out += f.rel -> Node(isDir = false, f.size, crc, mt)
    }
    out.result()
  }

  /** Lay a replica of `src` at `dst` with plain file copies that keep the
    * modification times. */
  def replicate(src: Path, dst: Path, snap: Map[String, Node]): Unit = {
    Files.createDirectories(dst)
    snap.toSeq.sortBy(_._1).foreach { case (rel, n) =>
      val d = dst.resolve(rel)
      if (n.isDir) Files.createDirectories(d)
      else {
        Files.createDirectories(d.getParent)
        Files.copy(src.resolve(rel), d, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(d, FileTime.fromMillis(n.mtime))
      }
    }
  }

  /** Walk `root` with java.nio: relative path -> node, with the CRC32C of
    * each file's contents. Names starting with ".graft.tmp." are reported
    * too, so a leftover temporary file shows as a difference. */
  def snapshot(root: Path): Map[String, Node] = {
    val out = Map.newBuilder[String, Node]
    val buf = ByteBuffer.allocate(1 << 20)
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      private def rel(p: Path): String = root.relativize(p).toString
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult = {
        if (d != root) out += rel(d) -> Node(isDir = true, 0L, 0L, 0L)
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        val crc = new CRC32C
        val ch = FileChannel.open(f, StandardOpenOption.READ)
        try {
          buf.clear()
          while (ch.read(buf) > 0) { buf.flip(); crc.update(buf); buf.clear() }
        } finally ch.close()
        out += rel(f) -> Node(isDir = false, a.size, crc.getValue, a.lastModifiedTime.toMillis)
        FileVisitResult.CONTINUE
      }
    })
    out.result()
  }

  /** Differences between an expected and an actual snapshot (paths, kinds,
    * sizes, digests and, for files, mtimes); empty when they agree. */
  def diff(expected: Map[String, Node], actual: Map[String, Node]): Seq[String] = {
    val limit = 5
    val out = mutable.ArrayBuffer.empty[String]
    val tmp = actual.keys.filter(k => k.split('/').last.startsWith(".graft.tmp."))
    tmp.take(limit).foreach(k => out += s"leftover temporary file $k")
    (expected.keySet -- actual.keySet).toSeq.sorted.take(limit).foreach(k => out += s"missing $k")
    (actual.keySet -- expected.keySet -- tmp).toSeq.sorted.take(limit).foreach(k => out += s"unexpected $k")
    expected.iterator.filter { case (k, e) => actual.get(k).exists(_ != e) }.take(limit).foreach {
      case (k, e) => out += s"differs $k: expected $e, found ${actual(k)}"
    }
    out.toSeq
  }

  /** The resync delta: a fixed ~5% of the files up to 64 KiB rewritten with
    * new sizes, plus a fifth as many new files. Drawn from the layout seed
    * and shaped like [[fixTotal]], so a default copy of the delta packs into
    * more buckets than it has slots, whatever the run seed. */
  def delta(layout: Layout, seed: Long): Vector[FileSpec] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val small = layout.files.filter(_.size <= (64L << 10))
    val n = math.max(layout.files.length / 20, 40)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(n, small.length)) picked += r.nextInt(small.length)
    val rewritten = picked.toVector.map(i => small(i).copy(size = 1024 + r.nextLong(60L << 10)))
    val dirs = layout.dirs
    val added = Vector.tabulate(n / 5) { i =>
      FileSpec(s"${dirs(r.nextInt(dirs.length))}/added-$i.bin", 1024 + r.nextLong(60L << 10))
    }
    fixTotal(rewritten ++ added)
  }

  /** Plant stale entries into a destination: one file in about every
    * hundredth directory and three stale directories with nested files.
    * The stale directories hang under top-level directories, so they reach
    * no deeper than the source tree whatever the seed: a deeper destination
    * would cost every walk of it one more level of jobs. Returns the
    * expected number of planted files. */
  def plantStale(dst: Path, layout: Layout, seed: Long, round: Int): Int = {
    val r = new SplittableRandom(seed * 1000003L + round)
    val tops = layout.dirs.filter(!_.contains('/'))
    val content = new Content(seed + round)
    var n = 0
    layout.dirs.foreach { d =>
      if (r.nextInt(100) == 0) {
        val rel = s"$d/stale-$round-$n.tmp"
        content.write(dst.resolve(rel), rel, r.nextLong(8L << 10), 1L)
        n += 1
      }
    }
    for (k <- 0 until 3) {
      val base = s"${tops(r.nextInt(tops.length))}/stale-dir-$round-$k"
      for (j <- 0 until 4) {
        val rel = s"$base/sub$j/old-$j.dat"
        content.write(dst.resolve(rel), rel, r.nextLong(4L << 10), 2L)
        n += 1
      }
    }
    n
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          Files.delete(f); FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
          Files.delete(d); FileVisitResult.CONTINUE
        }
      })
}
