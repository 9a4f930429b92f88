package graft.sources.plasma

import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** Plasma-analog object store: lifecycle contract, arrow payload
  * interop, and true cross-process visibility via a second JVM
  * (reference: cpp/src/plasma/client.h).
  */
class PlasmaStoreSpec extends SparkSpec {

  private def tmp(): String =
    TempDirs.tempDir("graft-plasma")

  test("create/seal/get/contains/delete lifecycle") {
    val store = new PlasmaStore(tmp())
    assert(!store.contains("a"))
    val buf = store.create("a", 5, metadata = Array[Byte](9))
    buf.put("hello".getBytes("UTF-8"))
    // unsealed objects are invisible
    assert(!store.contains("a"))
    assert(store.get("a", timeoutMs = 0).isEmpty)
    store.seal("a")
    assert(store.contains("a"))
    val obj = store.get("a").get
    assert(new String(obj.dataBytes, "UTF-8") == "hello")
    assert(obj.metadataBytes.toSeq == Seq(9.toByte))
    // sealed objects are immutable: re-create throws
    intercept[IllegalStateException] { store.create("a", 1) }
    assert(store.list() == Seq("a"))
    assert(store.delete("a"))
    assert(!store.contains("a"))
  }

  test("abort drops an unsealed object as if never created") {
    val store = new PlasmaStore(tmp())
    store.create("x", 3)
    store.abort("x")
    assert(!store.contains("x"))
    store.create("x", 3) // re-creatable after abort
    store.abort("x")
  }

  test("arrow-stream objects roundtrip through spark.read.format(arrow)") {
    val store = new PlasmaStore(tmp())
    val df = graft.Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey")
    store.putDataFrame("nations", df, metadata = "v1".getBytes("UTF-8"))
    assert(store.schemaOf("nations").get == df.schema)
    val back = store.getDataFrame(spark, "nations").get
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
    // the raw object is readable too, with metadata intact
    val obj = store.get("nations").get
    assert(new String(obj.metadataBytes, "UTF-8") == "v1")
  }

  private def javaBin: String =
    s"${System.getProperty("java.home")}/bin/java"

  test("a second process sees sealed objects (peer put → local get)") {
    val dir = tmp()
    val cmd = Seq(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.tools.PlasmaPeer", "put", dir, "from-peer", "ping-42")
    assert(cmd.! == 0, "peer JVM failed")
    val store = new PlasmaStore(dir)
    val obj = store.get("from-peer", timeoutMs = 5000).get
    assert(new String(obj.dataBytes, "UTF-8") == "ping-42")
    assert(new String(obj.metadataBytes, "UTF-8") == "peer-meta")
  }

  test("a second process blocks on get until this one seals (local put → peer get)") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    val out = new StringBuilder
    val proc = Seq(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.tools.PlasmaPeer", "get", dir, "late")
      .run(ProcessLogger(s => out.append(s), _ => ()))
    // seal only after the peer is already waiting
    Thread.sleep(300)
    val buf = store.create("late", 4)
    buf.put("pong".getBytes("UTF-8"))
    store.seal("late")
    assert(proc.exitValue() == 0)
    assert(out.toString == "pong")
  }

  test("concurrent create of one id across JVMs: exactly one claimant wins") {
    val dir = tmp()
    // N peers race to create the same id; the CREATE_NEW claim is
    // atomic, so exactly one must win even with no seal in between
    val outs = (1 to 4).map { _ =>
      val out = new StringBuilder
      val proc = Seq(javaBin, "-cp", System.getProperty("java.class.path"),
        "graft.tools.PlasmaPeer", "claim", dir, "contested")
        .run(ProcessLogger(s => out.append(s), _ => ()))
      (proc, out)
    }
    val results = outs.map { case (p, out) => assert(p.exitValue() == 0); out.toString }
    assert(results.count(_ == "won") == 1, s"claims: $results")
    assert(results.count(_ == "lost") == 3, s"claims: $results")
  }

  test("get() treats a foreign or torn file as a miss, not garbage") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    // a foreign file with the sealed-object name but no footer magic
    val foreign = store.sealedPath("alien")
    Files.write(java.nio.file.Paths.get(foreign),
      "not a plasma object at all".getBytes("UTF-8"))
    assert(store.get("alien", timeoutMs = 0).isEmpty)
    // magic present but sizes that don't reconcile with the file length
    val torn = store.sealedPath("torn")
    val bytes = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bytes.putLong(0, 999999L) // dataSize way past EOF
    bytes.putLong(8, 0L)
    bytes.position(32 - PlasmaStore.MAGIC.length)
    bytes.put(PlasmaStore.MAGIC)
    Files.write(java.nio.file.Paths.get(torn), bytes.array())
    assert(store.get("torn", timeoutMs = 0).isEmpty)
    // a foreign file with a non-hex name must not crash listings or
    // subscriptions either
    Files.write(java.nio.file.Paths.get(dir, "junk.obj"),
      "not ours".getBytes("UTF-8"))
    val sub = store.subscribe()
    // a genuine object in the same dir is still served
    store.create("ok", 2).put("ab".getBytes("UTF-8")); store.seal("ok")
    assert(new String(store.get("ok").get.dataBytes, "UTF-8") == "ab")
    assert(!store.list().contains("junk"))
    assert(sub.getNotification(timeoutMs = 5000).map(_.id).contains("ok"))
  }

  test("subscribe observes a seal from another process, and deletions") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    val sub = store.subscribe()
    assert(sub.getNotification(timeoutMs = 0).isEmpty)
    val cmd = Seq(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.tools.PlasmaPeer", "put", dir, "announced", "payload-77")
    assert(cmd.! == 0, "peer JVM failed")
    val n = sub.getNotification(timeoutMs = 5000).get
    assert(n.id == "announced" && !n.isDeletion)
    assert(n.objectBytes > 0)
    store.delete("announced")
    val d = sub.getNotification(timeoutMs = 5000).get
    assert(d.id == "announced" && d.isDeletion)
  }

  test("evict frees at least the requested bytes, oldest sealed first") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    def put(id: String, sz: Int): Unit = {
      val buf = store.create(id, sz.toLong)
      buf.put(new Array[Byte](sz))
      store.seal(id)
      // distinct mtimes so the LRU order is deterministic
      new java.io.File(store.sealedPath(id))
        .setLastModified(System.currentTimeMillis() + store.list().size * 2000L)
    }
    put("old", 100); put("mid", 100); put("new", 100)
    store.create("wip", 50) // unsealed: must survive eviction
    // each object stores 100 data + 24 footer = 124 bytes; asking for
    // 150 must evict the two oldest and leave the newest untouched
    val freed = store.evict(150)
    assert(freed >= 150, s"freed $freed")
    assert(!store.contains("old") && !store.contains("mid"))
    assert(store.contains("new"))
    store.abort("wip")
    assert(store.evict(0) == 0L)
  }

  test("oversized objects are rejected up front, not wrapped") {
    val store = new PlasmaStore(tmp())
    intercept[IllegalArgumentException] {
      store.create("huge", Int.MaxValue.toLong + 1)
    }
    intercept[IllegalArgumentException] { store.create("neg", -1L) }
  }

  test("non-latin object ids stay distinct and list() decodes them") {
    val store = new PlasmaStore(tmp())
    // "\u1000" vs "\u0010\u0000" collided under per-char hex encoding
    val a = "\u1000"; val b = "\u0010\u0000"
    store.create(a, 1).put(1.toByte); store.seal(a)
    assert(!store.contains(b))
    store.create(b, 1).put(2.toByte); store.seal(b)
    assert(store.get(a).get.dataBytes.toSeq == Seq(1.toByte))
    assert(store.get(b).get.dataBytes.toSeq == Seq(2.toByte))
    assert(store.list().toSet == Set(a, b))
  }
}
