package graft.stream

import graft.SparkSuite

class StreamSessionSpec extends SparkSuite {

  test("streamSession: a tiny input shrinks partitions and keeps the parent's runtime confs") {
    val parent = spark.newSession() // fresh: not shared with the tuned-session memo
    parent.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    val tiny = java.nio.file.Files.createTempFile("stream-session-spec", ".txt")
    try {
      java.nio.file.Files.writeString(tiny, "x")
      val child = StreamQueries.streamSession(parent, tiny.toString)
      assert(child ne parent)
      assert(child.conf.get("spark.sql.shuffle.partitions") == "1")
      assert(child.conf.get("spark.sql.files.maxPartitionBytes") == "2m")
      assert(parent.conf.get("spark.sql.shuffle.partitions") ==
        spark.conf.get("spark.sql.shuffle.partitions"))
    } finally java.nio.file.Files.delete(tiny)
  }
}
