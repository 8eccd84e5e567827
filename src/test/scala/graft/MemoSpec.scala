package graft

import java.io.File

/** [[Session.memo]]: a value is reused while the (path, size, mtime)
  * listing of its inputs is unchanged and recomputed when it changes, a
  * replaced or forgotten `Dataset` is unpersisted, and memo calls may
  * nest inside a compute. */
class MemoSpec extends SparkSpec {

  private def input(name: String): String = {
    val dir = new File(targetDir("test-memo"))
    dir.mkdirs()
    val f = new File(dir, name)
    java.nio.file.Files.writeString(f.toPath, "v1")
    f.getAbsolutePath
  }

  test("same inputs compute once") {
    val in = input("once.txt")
    var runs = 0
    val a = Session.memo(spark, "memoSpec.once", Seq(in), in) { runs += 1; runs }
    val b = Session.memo(spark, "memoSpec.once", Seq(in), in) { runs += 1; runs }
    assert((a, b, runs) == ((1, 1, 1)))
    // the params are part of the key: another param is another entry
    val c = Session.memo(spark, "memoSpec.once", Seq(in), in, 2) { runs += 1; runs }
    assert(c == 2)
  }

  test("touching an input recomputes") {
    val in = input("touch.txt")
    var runs = 0
    def get(): Int = Session.memo(spark, "memoSpec.touch", Seq(in), in) { runs += 1; runs }
    assert(get() == 1)
    val f = new File(in)
    assert(f.setLastModified(f.lastModified() + 5000))
    assert(get() == 2, "a touched input served the old value")
    assert(get() == 2)
    java.nio.file.Files.writeString(f.toPath, "v22")
    assert(get() == 3, "a rewritten input served the old value")
  }

  test("a replaced or forgotten Dataset value is unpersisted") {
    import org.apache.spark.storage.StorageLevel
    val in = input("dataset.txt")
    var runs = 0L
    def get() = Session.memo(spark, "memoSpec.dataset", Seq(in), in) {
      runs += 1; spark.range(runs).persist()
    }
    val first = get()
    assert(first.storageLevel != StorageLevel.NONE)
    val f = new File(in)
    assert(f.setLastModified(f.lastModified() + 5000))
    val second = get()
    assert(first.storageLevel == StorageLevel.NONE, "the replaced Dataset is still persisted")
    assert(second.storageLevel != StorageLevel.NONE)
    Session.forgetMemos()
    assert(second.storageLevel == StorageLevel.NONE, "a forgotten Dataset is still persisted")
  }

  test("a replaced tuple of Datasets is unpersisted whole") {
    import org.apache.spark.storage.StorageLevel
    val in = input("pair.txt")
    var runs = 0L
    def get() = Session.memo(spark, "memoSpec.pair", Seq(in), in) {
      runs += 1; (spark.range(runs + 10).persist(), spark.range(runs + 20).persist())
    }
    val (a, b) = get()
    val f = new File(in)
    assert(f.setLastModified(f.lastModified() + 5000))
    val (c, d) = get()
    assert(a.storageLevel == StorageLevel.NONE && b.storageLevel == StorageLevel.NONE,
      "a member of the replaced tuple is still persisted")
    assert(c.storageLevel != StorageLevel.NONE && d.storageLevel != StorageLevel.NONE)
    Session.forgetMemos()
    assert(c.storageLevel == StorageLevel.NONE && d.storageLevel == StorageLevel.NONE)
  }

  test("a memo call nested inside a compute returns") {
    val in = input("nested.txt")
    // a thousand nested entries grow the map while the outer entry is
    // computed, which a computeIfAbsent memo refuses ("Recursive
    // update") whichever bins the keys hash to
    val v = Session.memo(spark, "memoSpec.outer", Seq(in), in) {
      (1 to 1000).map(i => Session.memo(spark, "memoSpec.inner", Seq(in), in, i)(i)).sum
    }
    assert(v == 500500)
    assert(Session.memo(spark, "memoSpec.inner", Seq(in), in, 7)(-1) == 7)
  }
}
