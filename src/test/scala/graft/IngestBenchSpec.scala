package graft

/** Smoke coverage for the ingest harness: the wire runner stages a tiny
  * corpus, streams it through one server or two shards, and requires
  * every package to land as exactly one document. */
class IngestBenchSpec extends SparkSpec {
  for (shards <- Seq(1, 2))
    test(s"the wire runner lands every package through $shards shard(s)") {
      assert(IngestBench.wireRun(spark, n = 4, streams = 2, shards = shards, roundSize = 2) > 0)
    }
}
