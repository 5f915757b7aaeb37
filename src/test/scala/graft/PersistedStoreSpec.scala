package graft.ops

/** The publish protocol behind the persisted derived stores (edge
  * list, snapshot index, CDC changelog): versioned contract keys and the
  * atomic temp-dir publish. Most build functions here write plain
  * files, which is all the protocol sees (the real stores hand it
  * parquet writers); the session only serves a failed build's discard,
  * and one case fails a real parquet write inside a task.
  */
class PersistedStoreSpec extends graft.SparkSpec {

  private def freshName() = s"spec${java.util.UUID.randomUUID().toString.take(8)}"

  private def write(dir: String, name: String, body: String): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val w = new java.io.FileWriter(new java.io.File(d, name))
    w.write(body); w.close()
  }

  private def read(dir: String, name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, name).toPath), "UTF-8")

  test("contract key: any constant change moves the directory — a " +
      "semantics change can never read a stale store") {
    val base = Seq("/data/x", "minhash", 128, 16, "0.5", "v1")
    val d0 = PersistedStore.dir("spec", base)
    assert(PersistedStore.dir("spec", base) === d0) // deterministic
    for (i <- base.indices) {
      val changed = base.updated(i, "CHANGED")
      assert(PersistedStore.dir("spec", changed) !== d0,
        s"changing contract element $i did not move the store directory")
    }
    assert(PersistedStore.dir("other", base) !== d0) // name in the path
  }

  test("contract key is injective over element boundaries: an element " +
      "containing the separator cannot collide with split elements") {
    // r14 review: plain mkString(\":\") keyed Seq(\"a:b\") and
    // Seq(\"a\",\"b\") to one directory — a path or constant containing
    // ':' could silently share a stale store across semantics.
    assert(PersistedStore.dir("spec", Seq("a:b")) !==
      PersistedStore.dir("spec", Seq("a", "b")))
    assert(PersistedStore.dir("spec", Seq("ab", "c")) !==
      PersistedStore.dir("spec", Seq("a", "bc")))
    assert(PersistedStore.dir("spec", Seq("h60-exact")) !==
      PersistedStore.dir("spec", Seq("h60", "exact")))
  }

  test("contract key is injective over element TYPES: same rendering, " +
      "different type cannot collide (r15 review)") {
    // a contract constant changing type (Int threshold -> Double, a
    // null default -> the string "null") is a semantics change and must
    // move the directory even though String.valueOf renders identically
    assert(PersistedStore.dir("spec", Seq(1)) !==
      PersistedStore.dir("spec", Seq("1")))
    assert(PersistedStore.dir("spec", Seq(1)) !==
      PersistedStore.dir("spec", Seq(1.0)))
    assert(PersistedStore.dir("spec", Seq(null)) !==
      PersistedStore.dir("spec", Seq("null")))
  }

  test("locks are striped per store: one store's in-flight build does " +
      "not serialize an unrelated store's ensure") {
    val slow = PersistedStore.dir(freshName(), Seq("slow"))
    val fast = PersistedStore.dir(freshName(), Seq("fast"))
    val slowEntered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      PersistedStore.ensure(spark, slow) { tmp =>
        slowEntered.countDown()
        assert(release.await(30, java.util.concurrent.TimeUnit.SECONDS))
        write(tmp, "payload", "s")
      }: Unit
    })
    t.start()
    try {
      assert(slowEntered.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // with the slow build still holding ITS store's lock, an
      // unrelated store must build immediately (the r14 object-wide
      // lock serialized exactly this sequence)
      val t0 = System.nanoTime()
      PersistedStore.ensure(spark, fast) { tmp =>
        write(tmp, "payload", "f")
      }
      val waitedMs = (System.nanoTime() - t0) / 1e6
      assert(waitedMs < 5000,
        s"unrelated ensure waited ${waitedMs}ms behind a foreign build")
      assert(read(fast, "payload") === "f")
    } finally {
      release.countDown()
      t.join(30000)
    }
    assert(read(slow, "payload") === "s")
  }

  test("ensure publishes atomically: build runs in a temp dir, the final " +
      "dir appears with _DONE inside, and a second call never rebuilds") {
    val dir = PersistedStore.dir(freshName(), Seq("a", 1))
    var builds = 0
    val got = PersistedStore.ensure(spark, dir) { tmp =>
      builds += 1
      assert(tmp !== dir, "build must not write the final path directly")
      assert(!new java.io.File(dir).exists(),
        "final dir must not exist while the build is in flight")
      write(tmp, "payload", "v")
    }
    assert(got === dir && builds === 1)
    assert(new java.io.File(dir, "_DONE").exists())
    assert(read(dir, "payload") === "v")
    PersistedStore.ensure(spark, dir) { _ => builds += 1 }
    assert(builds === 1, "second ensure must be a no-op")
  }

  test("a crashed build leaves no published store — the next ensure " +
      "builds cleanly") {
    val dir = PersistedStore.dir(freshName(), Seq("b", 2))
    intercept[RuntimeException] {
      PersistedStore.ensure(spark, dir) { tmp =>
        write(tmp, "torn", "x")
        throw new RuntimeException("simulated crash mid-build")
      }
    }
    assert(!new java.io.File(dir).exists(),
      "a torn build must never be visible at the store path")
    assert(!new java.io.File(dir, "_DONE").exists())
    PersistedStore.ensure(spark, dir) { tmp => write(tmp, "payload", "ok") }
    assert(read(dir, "payload") === "ok")
  }

  test("losing the publish race discards the loser's build and keeps the " +
      "winner's store intact") {
    val dir = PersistedStore.dir(freshName(), Seq("c", 3))
    val parent = new java.io.File(dir).getParentFile
    def tempDirs() = Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"${new java.io.File(dir).getName}.build."))
    PersistedStore.ensure(spark, dir) { tmp =>
      write(tmp, "payload", "LOSER")
      // simulate another process publishing first, mid-way through our
      // build: the final dir (with its marker) appears before our rename
      write(dir, "payload", "WINNER")
      write(dir, "_DONE", "")
    }
    assert(read(dir, "payload") === "WINNER",
      "the loser's rename must not clobber the published store")
    assert(tempDirs().isEmpty, "the loser's temp build dir must be removed")
  }

  test("a build whose Spark write fails inside a task leaves no build " +
      "sibling behind, and the next ensure publishes") {
    val dir = PersistedStore.dir(freshName(), Seq("d", 4))
    val store = new java.io.File(dir)
    def builds() = Option(store.getParentFile.list()).getOrElse(Array.empty)
      .filter(_.startsWith(s"${store.getName}.build.")).toSeq
    // range() runs in tasks, so the raise_error fires inside the
    // parquet write, after the write has created its output dir
    intercept[Exception] {
      PersistedStore.ensure(spark, dir) { tmp =>
        spark.sql("SELECT id AS k, CASE WHEN id = 2 THEN " +
          "raise_error('bad row') ELSE 'x' END AS v FROM range(3)")
          .write.parquet(tmp)
      }
    }
    assert(builds().isEmpty, s"failed build left its sibling: ${builds()}")
    assert(!store.exists())
    PersistedStore.ensure(spark, dir) { tmp =>
      spark.range(3).write.parquet(tmp)
    }
    assert(new java.io.File(store, "_DONE").exists())
    assert(spark.read.parquet(dir).count() === 3)
  }
}
