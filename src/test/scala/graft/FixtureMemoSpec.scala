package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.Scratch.FixtureMemo

/** The single fixture-memo mechanism: every [[Scratch.FixtureMemo]]
  * registers itself, [[SparkEntry.invalidateMemos]] empties them all
  * through their teardowns, and no hand-rolled memo map exists
  * beside it. Inputs are KB-sized files in a temp dir. */
class FixtureMemoSpec extends SparkSpec {

  private def withDir(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("fixture-memo-spec").toFile
    try body(dir) finally Scratch.rm(dir)
  }

  private def write(f: File, text: String): Unit = {
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8)); ()
  }

  /** A memo that logs every build and teardown, in order. */
  private def loggedMemo(log: mutable.Buffer[String]): FixtureMemo[String] =
    new FixtureMemo[String](v => log.synchronized { log += s"teardown $v"; () })

  private def build(log: mutable.Buffer[String], v: String): () => String =
    () => log.synchronized { log += s"build $v"; v }

  test("invalidateMemos empties every registered memo; live slots torn down once, none built") {
    withDir { dir =>
      val sf = dir.getAbsolutePath
      val in = new File(dir, "a.csv"); write(in, "k,v\n1,2\n")
      val log = mutable.Buffer.empty[String]
      val a = loggedMemo(log)
      val b = loggedMemo(log)
      val gets0 = FixtureMemo.gets
      assert(a.get(spark, sf, Seq(in.getPath))(build(log, "a1")) === "a1")
      assert(a.get(spark, sf, Seq(in.getPath), tag = "t")(build(log, "a2")) === "a2")
      assert(b.get(spark, sf, Seq(in.getPath))(build(log, "b1")) === "b1")
      assert(FixtureMemo.gets === gets0 + 3, "every get is counted")
      // a slot whose build failed stays in the map unbuilt
      var failedBuilds = 0
      intercept[IllegalStateException] {
        b.get(spark, sf, Seq(in.getPath), tag = "broken") { () =>
          failedBuilds += 1; throw new IllegalStateException("boom")
        }
      }
      assert(!b.isEmpty)
      assert(FixtureMemo.registered.exists(_ eq a) && FixtureMemo.registered.exists(_ eq b))

      SparkEntry.invalidateMemos()

      assert(FixtureMemo.registered.forall(_.isEmpty),
        "a registered memo kept a slot through invalidateMemos")
      assert(failedBuilds === 1, "invalidation built an unbuilt slot")
      assert(log.filter(_.startsWith("teardown")).sorted ===
        Seq("teardown a1", "teardown a2", "teardown b1"))
      // a second sweep finds nothing left to tear down
      SparkEntry.invalidateMemos()
      assert(log.count(_.startsWith("teardown")) === 3)
    }
  }

  test("a rewritten input evicts the stale slot with its teardown before the fresh build") {
    withDir { dir =>
      val sf = dir.getAbsolutePath
      val in = new File(dir, "orders.csv"); write(in, "k\n1\n")
      val log = mutable.Buffer.empty[String]
      val m = loggedMemo(log)
      assert(m.get(spark, sf, Seq(in.getPath))(build(log, "v1")) === "v1")
      assert(m.get(spark, sf, Seq(in.getPath))(build(log, "unused")) === "v1")
      write(in, "k\n1\n2\n")
      assert(m.get(spark, sf, Seq(in.getPath))(build(log, "v2")) === "v2")
      assert(log === Seq("build v1", "teardown v1", "build v2"))
      m.invalidate()
      assert(log.last === "teardown v2")
      assert(m.isEmpty)
    }
  }

  test("two tags under one (session, sfDir) stay apart") {
    withDir { dir =>
      val sf = dir.getAbsolutePath
      val events = new File(dir, "events.csv"); write(events, "e\n1\n")
      val docs = new File(dir, "documents.csv"); write(docs, "d\n1\n")
      val log = mutable.Buffer.empty[String]
      val m = loggedMemo(log)
      assert(m.get(spark, sf, Seq(events.getPath), tag = "events")(build(log, "e1")) === "e1")
      assert(m.get(spark, sf, Seq(docs.getPath), tag = "documents")(build(log, "d1")) === "d1")
      assert(m.get(spark, sf, Seq(events.getPath), tag = "events")(build(log, "x")) === "e1")
      // rewriting one tag's input evicts that tag's slot only
      write(events, "e\n1\n2\n")
      assert(m.get(spark, sf, Seq(events.getPath), tag = "events")(build(log, "e2")) === "e2")
      assert(m.get(spark, sf, Seq(docs.getPath), tag = "documents")(build(log, "x")) === "d1")
      assert(log === Seq("build e1", "build d1", "teardown e1", "build e2"))
      m.invalidate()
    }
  }

  test("a fingerprint over several inputs sees a rewrite of any one of them") {
    withDir { dir =>
      val sf = dir.getAbsolutePath
      val li = new File(dir, "lineitem.csv"); write(li, "l\n1\n")
      val or = new File(dir, "orders.csv"); write(or, "o\n1\n")
      val log = mutable.Buffer.empty[String]
      val m = loggedMemo(log)
      val inputs = Seq(li.getPath, or.getPath)
      assert(m.get(spark, sf, inputs)(build(log, "s1")) === "s1")
      write(or, "o\n1\n2\n")
      assert(m.get(spark, sf, inputs)(build(log, "s2")) === "s2")
      assert(log === Seq("build s1", "teardown s1", "build s2"))
      m.invalidate()
    }
  }

  test("no memo map of Scratch.Slot outside Scratch.scala") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the checkout root: ${root.getAbsolutePath}")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    /** The type arguments of every `ConcurrentHashMap[...]` in `src`. */
    def mapTypeArgs(src: String): Seq[String] = {
      val marker = "ConcurrentHashMap["
      Iterator.iterate(src.indexOf(marker))(i => src.indexOf(marker, i + 1))
        .takeWhile(_ >= 0)
        .map { i =>
          val open = i + marker.length
          var depth = 1
          var j = open
          while (j < src.length && depth > 0) {
            if (src(j) == '[') depth += 1 else if (src(j) == ']') depth -= 1
            j += 1
          }
          src.substring(open, j - 1)
        }.toSeq
    }
    val offenders = for {
      f <- walk(root) if f.getName != "Scratch.scala"
      args <- mapTypeArgs(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      if args.contains("Slot")
    } yield s"${f.getPath}: ConcurrentHashMap[$args]"
    assert(offenders.isEmpty,
      "memoize fixtures through Scratch.FixtureMemo, not a map of slots:\n" +
        offenders.mkString("\n"))
  }
}
