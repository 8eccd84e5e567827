package graft.streaming

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** [[Fs.listFileStats]], the listing under every Delta log read and
  * [[graft.Session.memo]]'s witness: it walks with `listStatus` and must
  * list exactly what Hadoop's recursive `listFiles` lists. */
class FsSpec extends SparkSpec {

  test("listFileStats: the same (path, size, mtime) set as fs.listFiles(p, true); empty when absent; a file lists itself") {
    val root = s"${targetDir("test-fs")}/tree"
    Fs.deleteRec(spark, root)
    val fs = new Path(root).getFileSystem(Fs.conf(spark))
    // written through the checksum filesystem, so each file gets a
    // `.<name>.crc` sidecar beside it
    def put(rel: String, body: String): Unit = {
      val out = fs.create(new Path(s"$root/$rel"), false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    put("a.json", "a")
    put("nested/deeper/b.parquet", "bb")
    put("nested/c.txt", "ccc")
    put(".hidden/d.json", "dddd")
    put("_delta_log/00000000000000000000.json", "{}")
    Fs.mkdirs(spark, s"$root/empty")
    assert(new java.io.File(s"$root/nested/deeper/.b.parquet.crc").exists, "no .crc sidecar was written")

    def hadoop(path: String): Set[(String, Long, Long)] = {
      val p = new Path(path)
      val it = p.getFileSystem(Fs.conf(spark)).listFiles(p, true)
      val out = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        out += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      out.result()
    }
    val got = Fs.listFileStats(spark, root, _ => true)
    assert(got.size == got.toSet.size, s"a file was listed twice: $got")
    assert(got.toSet == hadoop(root))
    assert(got.map(f => new Path(f._1).getName).toSet ==
      Set("a.json", "b.parquet", "c.txt", "d.json", "00000000000000000000.json"))
    assert(Fs.listFileStats(spark, root, _.endsWith(".json")).toSet ==
      hadoop(root).filter(_._1.endsWith(".json")))

    assert(Fs.listFileStats(spark, s"$root/missing", _ => true).isEmpty)
    assert(Fs.listFileStats(spark, s"$root/empty", _ => true).isEmpty)
    val file = s"$root/nested/c.txt"
    assert(Fs.listFileStats(spark, file, _ => true).toSet == hadoop(file))
    assert(Fs.listFileStats(spark, file, _ => true).map(_._2) == Seq(3L))
  }
}
