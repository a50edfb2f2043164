package graft

import java.nio.file.Files
import java.time.LocalDateTime

/** `SparkEntry.prebuildShared` keeps going past a relation whose build
  * throws, and reports that relation's error instead of a bare timing. */
class PrebuildSharedSpec extends SparkTestBase {
  import spark.implicits._

  "prebuildShared" should "report relations over missing tables as failed and still build the rest" in {
    val dir = Files.createTempDirectory("graft_prebuild_").toString
    val t0  = LocalDateTime.of(2024, 1, 1, 0, 0)
    (0 until 40).map(i => (i.toLong, t0.plusMinutes(i * 17L), (i % 5).toLong, s"t${i % 3}", i * 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    try {
      val built = SparkEntry.prebuildShared(spark, dir).map(p => p.name -> p).toMap
      built.size shouldBe 17
      // events-only relations build
      built("events_by_user").error shouldBe None
      built("hourly_grid").error shouldBe None
      // documents.parquet / embeddings.parquet are absent
      for (name <- Seq("term_index", "positional_postings", "vector_index", "pca_model")) {
        withClue(name) {
          built(name).error shouldBe defined
          built(name).seconds should be >= 0.0
        }
      }
    } finally SparkEntry.releaseShared(spark, dir)
  }
}
