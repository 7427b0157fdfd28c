package graft.sinks

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** DocStore versioning / time travel: writeVersioned retires the
  * replaced contents by POINTER MOVE (never a copy — the property that
  * makes snapshots free at 100 TB), readVersion travels back, restore
  * rolls forward/backward losslessly, prune bounds the history, and
  * tags/history survive what they should (rename, drop). */
class DocStoreVersionSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def newStore(format: String) = new DocStore(spark,
    graft.TestDirs.temp("graft_ver").toString, format)

  private def df(xs: (Long, String)*) = xs.toDF("id", "v")

  private def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
    d.select("id").as[Long].collect().toSet

  for (fmt <- Seq("parquet", "graftdocs")) {
    test(s"[$fmt] writeVersioned retires, readVersion travels, ids never reuse") {
      val s = newStore(fmt)
      assert(s.writeVersioned(df(1L -> "a"), "c") == 0L) // nothing to retire
      assert(s.versions("c").isEmpty)
      assert(s.writeVersioned(df(2L -> "b"), "c") == 1L)
      assert(s.writeVersioned(df(3L -> "c"), "c") == 2L)
      assert(s.versions("c") == Seq(1L, 2L))
      assert(ids(s.read("c")) == Set(3L))
      assert(ids(s.readVersion("c", 1)) == Set(1L))
      assert(ids(s.readVersion("c", 2)) == Set(2L))
      intercept[graft.mql.MqlException](s.readVersion("c", 9))
    }

    test(s"[$fmt] restore swaps pointers; nothing is ever lost") {
      val s = newStore(fmt)
      s.writeVersioned(df(1L -> "a"), "c"): Unit
      s.writeVersioned(df(2L -> "b"), "c"): Unit // retired: v1={1}
      // roll back to v1: current {2} retires as v2, v1 becomes live
      assert(s.restore("c", 1) == 2L)
      assert(ids(s.read("c")) == Set(1L))
      assert(s.versions("c") == Seq(2L))
      // roll forward again: {1} retires as v3
      assert(s.restore("c", 2) == 3L)
      assert(ids(s.read("c")) == Set(2L))
      assert(s.versions("c") == Seq(3L))
    }

    test(s"[$fmt] retirement is a pointer move: same files, same mtimes") {
      val s = newStore(fmt)
      s.writeVersioned(df(1L -> "a", 2L -> "b"), "c"): Unit
      def sig(p: String): Set[(String, Long, Long)] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(p))
          // the retired-at marker is metadata written INTO the version
          // dir at retirement — the data files must still move untouched
          .filterNot(_.getName.contains("_graft_retired_at")) // + its .crc
          .map(f => (f.getName, f.length, f.lastModified)).toSet
      }
      val before = sig(s.path("c"))
      s.writeVersioned(df(3L -> "z"), "c"): Unit
      val vdir = s.dir + "/.graft_versions/c" +
        (if (fmt == "parquet") "/v1.parquet" else "/v1")
      assert(sig(vdir) == before) // byte-for-byte the same files
    }
  }

  test("a versioned store retains history through plain write (the $out path)") {
    val s = new DocStore(spark,
      graft.TestDirs.temp("graft_verw").toString,
      "graftdocs", versioned = true)
    s.write(df(1L -> "a"), "c")
    s.write(df(2L -> "b"), "c", tags = Map("batchId" -> "1"))
    s.write(df(3L -> "z"), "c")
    assert(ids(s.read("c")) == Set(3L))
    assert(s.versions("c") == Seq(1L, 2L))
    assert(ids(s.readVersion("c", 1)) == Set(1L))
    // tags still commit atomically with the contents they describe —
    // v2 carries batchId 1, the live collection does not
    assert(new java.io.File(
      s.dir + "/.graft_versions/c/v2/_graft_tag_batchId").exists)
    assert(s.readTag("c", "batchId").isEmpty)
  }

  test("writeVersioned accepts a frame derived from the collection it replaces") {
    // the natural curation-run pattern: stage must complete BEFORE the
    // live dataset retires, or the scan loses its input mid-write and
    // a failure leaves the collection absent
    val s = newStore("graftdocs")
    s.writeVersioned(df(1L -> "a", 2L -> "b", 3L -> "c"), "c"): Unit
    s.writeVersioned(s.read("c").where($"id" =!= 2L), "c"): Unit
    assert(ids(s.read("c")) == Set(1L, 3L))
    assert(ids(s.readVersion("c", 1)) == Set(1L, 2L, 3L))
  }

  test("rename never adopts a stale target history; version ids never reuse") {
    val s = newStore("graftdocs")
    // stale history at "d": versioned twice, then dropped (history survives)
    s.writeVersioned(df(1L -> "old"), "d"): Unit
    s.writeVersioned(df(2L -> "old2"), "d"): Unit
    assert(s.drop("d") && s.versions("d") == Seq(1L))
    // an unversioned "e" renamed onto "d" must refuse without dropTarget
    s.writeVersioned(df(5L -> "new"), "e"): Unit
    intercept[graft.mql.MqlException](s.rename("e", "d"))
    s.rename("e", "d", dropTarget = true)
    // the dead collection's snapshots are gone, not adopted
    assert(s.versions("d").isEmpty)
    intercept[graft.mql.MqlException](s.readVersion("d", 1))
    // id monotonicity across pruning: empty the history, retire again —
    // the high-water mark forbids reusing v1 for different data
    val s2 = newStore("graftdocs")
    s2.writeVersioned(df(1L -> "a"), "c"): Unit
    s2.writeVersioned(df(2L -> "b"), "c"): Unit // retired v1
    assert(s2.pruneVersions("c", 0) == 1)
    assert(s2.writeVersioned(df(3L -> "z"), "c") == 2L) // NOT 1
    assert(s2.versions("c") == Seq(2L))
  }

  test("readAsOf resolves the snapshot live at the instant") {
    val s = newStore("graftdocs")
    s.writeVersioned(df(1L -> "a"), "c"): Unit
    Thread.sleep(5); val t1 = System.currentTimeMillis(); Thread.sleep(5)
    s.writeVersioned(df(2L -> "b"), "c"): Unit
    Thread.sleep(5); val t2 = System.currentTimeMillis(); Thread.sleep(5)
    s.writeVersioned(df(3L -> "z"), "c"): Unit
    assert(ids(s.readAsOf("c", t1)) == Set(1L))
    assert(ids(s.readAsOf("c", t2)) == Set(2L))
    assert(ids(s.readAsOf("c", System.currentTimeMillis())) == Set(3L))
  }

  test("tags ride with their version; prune bounds the history") {
    val s = newStore("graftdocs")
    s.writeVersioned(df(1L -> "a"), "c", tags = Map("batchId" -> "7")): Unit
    s.writeVersioned(df(2L -> "b"), "c", tags = Map("batchId" -> "8")): Unit
    assert(s.readTag("c", "batchId").contains("8"))
    s.restore("c", 1): Unit // v1 (tag 7) becomes live
    assert(s.readTag("c", "batchId").contains("7"))
    (3 to 6).foreach(i => s.writeVersioned(df(i.toLong -> "x"), "c"): Unit)
    val vs = s.versions("c")
    assert(s.pruneVersions("c", keepLast = 2) == vs.length - 2)
    assert(s.versions("c") == vs.takeRight(2))
  }

  test("diffVersions: multiset semantics, schema widening, version-to-version") {
    val s = newStore("graftdocs")
    // duplicates matter: {1,1,2} → {1,2,2,3} is +2 (one extra 2, one 3),
    // -1 (one of the 1s), kept 2
    s.writeVersioned(Seq(1L -> "a", 1L -> "a", 2L -> "b").toDF("id", "v"), "c"): Unit
    s.writeVersioned(Seq(1L -> "a", 2L -> "b", 2L -> "b", 3L -> "c").toDF("id", "v"), "c"): Unit
    def m(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
      d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m(s.diffVersions("c", 1)) ==
      Map("added" -> 2L, "removed" -> 1L, "kept" -> 2L))
    // version-to-version (not just version-to-live): v1 vs v1 via a
    // third write, then schema widening — the new column diffs as change
    s.writeVersioned(Seq((1L, "a", true)).toDF("id", "v", "flag"), "c"): Unit
    assert(m(s.diffVersions("c", 1, Some(2))) ==
      Map("added" -> 2L, "removed" -> 1L, "kept" -> 2L))
    assert(m(s.diffVersions("c", 2)) == // {1a,2b,2b,3c} → {(1,a,true)}
      Map("added" -> 1L, "removed" -> 4L, "kept" -> 0L))
    // identical snapshots: all kept
    assert(m(s.diffVersions("c", 1, Some(1))) ==
      Map("added" -> 0L, "removed" -> 0L, "kept" -> 3L))
    // null-valued rows are matched null-SAFELY (an equi-join on the raw
    // columns would split them into added+removed)
    val s2 = newStore("graftdocs")
    s2.writeVersioned(Seq((1L, null: String), (2L, "b")).toDF("id", "v"), "n"): Unit
    s2.writeVersioned(Seq((1L, null: String), (3L, "c")).toDF("id", "v"), "n"): Unit
    assert(m(s2.diffVersions("n", 1)) ==
      Map("added" -> 1L, "removed" -> 1L, "kept" -> 1L))
  }

  test("changeEvents replays history as insert/update/delete change docs") {
    val s = newStore("parquet")
    s.writeVersioned(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n"), "c"): Unit
    // v2: id 1 deleted, id 2 updated (two fields), id 4 inserted
    s.writeVersioned(Seq((2L, "B", 21L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "v", "n"), "c"): Unit
    // v3 (live): id 3 deleted
    s.writeVersioned(Seq((2L, "B", 21L), (4L, "d", 40L))
      .toDF("id", "v", "n"), "c"): Unit
    val ev = s.changeEvents("c", "id")
      .select($"operationType", $"documentKey".as[Long],
        $"txnVersion".as[Long],
        concat_ws(",", $"updatedFields").as[String])
      .as[(String, Long, Long, String)].collect().toSet
    assert(ev == Set(
      ("delete", 1L, 2L, ""), ("update", 2L, 2L, "v,n"),
      ("insert", 4L, 2L, ""), ("delete", 3L, 3L, "")))
    // after/before images carried per-op
    val up = s.changeEvents("c", "id").where($"operationType" === "update")
      .select($"fullDocument.v", $"fullDocumentBeforeChange.v").head
    assert(up.getString(0) == "B" && up.getString(1) == "b")
    // unchanged rows emit nothing (id 3 in v1→v2 transition, id 2/4 in v2→v3)
    assert(s.changeEvents("c", "id").count() == 4)
    // schema evolution between snapshots refuses loudly
    s.writeVersioned(Seq((2L, "B")).toDF("id", "v"), "c"): Unit
    intercept[graft.mql.MqlException](s.changeEvents("c", "id").collect())
    // a collection written once but never updated has no transitions —
    // a watch opened on it IDLES (zero rows, correct change-doc
    // schema; mongod semantics) instead of refusing, so streaming
    // triggers opened before the first update succeed
    val s2 = newStore("parquet")
    s2.writeVersioned(df(1L -> "a"), "c2"): Unit
    val idle = s2.changeEvents("c2", "id")
    assert(idle.count() == 0)
    assert(idle.columns.toSeq == Seq("operationType", "documentKey",
      "fullDocument", "fullDocumentBeforeChange", "updatedFields",
      "txnVersion"))
  }

  test("history follows rename; survives drop (drop+restore = undo)") {
    val s = newStore("graftdocs")
    s.writeVersioned(df(1L -> "a"), "c"): Unit
    s.writeVersioned(df(2L -> "b"), "c"): Unit
    s.rename("c", "d")
    assert(s.versions("c").isEmpty && s.versions("d") == Seq(1L))
    assert(ids(s.readVersion("d", 1)) == Set(1L))
    // drop leaves history; restore resurrects the newest snapshot
    s.writeVersioned(df(3L -> "z"), "d"): Unit
    assert(s.drop("d"))
    assert(!s.exists("d") && s.versions("d") == Seq(1L, 2L))
    s.restore("d", 2): Unit
    assert(ids(s.read("d")) == Set(2L))
    // rename refuses to silently merge two histories
    s.writeVersioned(df(4L -> "q"), "e"): Unit
    s.writeVersioned(df(5L -> "r"), "e"): Unit
    intercept[graft.mql.MqlException](s.rename("e", "d"))
    s.rename("e", "d", dropTarget = true)
    assert(ids(s.read("d")) == Set(5L) && s.versions("d") == Seq(1L))
  }

  test("a write cannot adopt a dropped collection's surviving history") {
    val s = newStore("parquet")
    s.writeVersioned(df(1L -> "a"), "c"): Unit
    s.writeVersioned(df(2L -> "b"), "c"): Unit
    assert(s.drop("c") && s.versions("c").nonEmpty)
    // creating a NEW collection under the name must refuse — readAsOf
    // would otherwise serve the dead collection's snapshots as its past
    intercept[graft.mql.MqlException](s.writeVersioned(df(9L -> "x"), "c"))
    intercept[graft.mql.MqlException](s.write(df(9L -> "x"), "c"))
    // restore is the sanctioned path; afterwards writes flow again
    s.restore("c", s.versions("c").last): Unit
    s.writeVersioned(df(9L -> "x"), "c"): Unit
    assert(ids(s.read("c")) == Set(9L))
  }

  test("restore clears the inherited retired-at marker") {
    val s = newStore("parquet")
    s.writeVersioned(df(1L -> "a"), "c"): Unit
    s.writeVersioned(df(2L -> "b"), "c"): Unit
    s.restore("c", 1): Unit
    // the restored live dir must NOT carry its former retired-at: a
    // crash mid-retire later must leave a MISSING marker (loud), not a
    // stale-but-plausible one
    val marker = new java.io.File(s"${s.dir}/c/_graft_retired_at")
    assert(!marker.exists, "stale retired-at marker survived restore")
    // and the normal versioned flow still stamps fresh markers
    s.writeVersioned(df(3L -> "z"), "c"): Unit
    val v = s.versions("c").last
    assert(s.retiredAt("c", v).nonEmpty)
  }

  test("vacuum resolves aside dirs: reaps superseded, recovers orphans") {
    val s = newStore("parquet")
    s.write(df(1L -> "a"), "c")
    // simulate a crash window: live moved aside, stage never swapped in
    val root = new java.io.File(s.dir)
    val live = new java.io.File(s.path("c")) // parquet stores use c.parquet
    val aside = new java.io.File(root, ".graft_old_c_123")
    assert(live.renameTo(aside))
    assert(!live.exists)
    s.vacuum(): Unit
    // recovery: the aside (only copy) moved back live, data intact
    assert(live.exists && ids(s.read("c")) == Set(1L))
    // superseded aside (live present) is reaped
    val aside2 = new java.io.File(root, ".graft_old_c_456")
    assert(aside2.mkdir())
    s.vacuum(): Unit
    assert(!aside2.exists && live.exists)
  }

  test("vacuum with MULTIPLE asides recovers the NEWEST, reaps older ones") {
    val s = newStore("parquet")
    val root = new java.io.File(s.dir)
    val live = new java.io.File(s.path("c"))
    // two crashes mid-swap with a successful write between: two asides
    // for the same collection, no live copy. The larger nanos suffix is
    // the most recent committed data — IT must come back live; restoring
    // in lexicographic listing order would resurrect the older one and
    // delete the newer as "superseded" (deterministic data loss).
    s.write(df(1L -> "old"), "c")
    assert(live.renameTo(new java.io.File(root, ".graft_old_c_111")))
    s.write(df(2L -> "new"), "c")
    assert(live.renameTo(new java.io.File(root, ".graft_old_c_999")))
    assert(!live.exists)
    s.vacuum(): Unit
    assert(live.exists && ids(s.read("c")) == Set(2L),
      "vacuum restored a stale aside over the most recent committed data")
    assert(!new java.io.File(root, ".graft_old_c_111").exists
      && !new java.io.File(root, ".graft_old_c_999").exists)
    // underscore-bearing collection names still split on the LAST '_'
    s.write(df(3L -> "x"), "my_coll")
    val liveU = new java.io.File(s.path("my_coll"))
    assert(liveU.renameTo(new java.io.File(root, ".graft_old_my_coll_5")))
    s.write(df(4L -> "y"), "my_coll")
    assert(liveU.renameTo(new java.io.File(root, ".graft_old_my_coll_7")))
    s.vacuum(): Unit
    assert(liveU.exists && ids(s.read("my_coll")) == Set(4L))
  }
}
