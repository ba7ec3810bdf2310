package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Source-format round-trips: a user of the engine lands data as CSV or
  * JSON-lines as often as parquet. Pins (a) schema-explicit reads — schema
  * inference is a full extra pass at 100 TB and type-unstable, so every
  * read here supplies the schema; (b) value fidelity across the round-trip
  * against the parquet ground truth; (c) malformed-record isolation
  * (PERMISSIVE + corrupt-record column) rather than job failure. */
class SourceFormatsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("JSONL round-trip preserves every row and value") {
    withTempDir("graft_jsonl") { dir =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.write.mode("overwrite").json(dir)
      val back = spark.read.schema(docSchema).json(dir)
      assert(back.count() == docs.count())
      val a = docs.select($"doc_id", md5($"text".cast("binary")).as("fp"))
        .as[(Long, String)].collect().toMap
      val b = back.select($"doc_id", md5($"text".cast("binary")).as("fp"))
        .as[(Long, String)].collect().toMap
      assert(a == b, "text fidelity lost through JSONL")
    }
  }

  test("CSV round-trip with explicit schema, quoting and escapes intact") {
    withTempDir("graft_csv") { dir =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      // documents text is free-form: quoting/escaping is the failure mode
      // this round-trip exercises. nullValue gets an explicit sentinel so an
      // empty string survives the trip (the default reads "" back as NULL),
      // and multiLine covers embedded newlines inside quoted fields — both
      // silent data-corruption modes of a naive CSV landing.
      docs.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .option("nullValue", "\\N")
        .csv(dir)
      val back = spark.read.schema(docSchema)
        .option("header", "true").option("escape", "\"")
        .option("nullValue", "\\N").option("emptyValue", "")
        .option("multiLine", "true")
        .csv(dir)
      assert(back.count() == docs.count())
      val a = docs.select(sum($"n_chars"), md5(concat_ws("|",
        sort_array(collect_list(md5($"text".cast("binary")))))))
        .as[(Long, String)].head()
      val b = back.select(sum($"n_chars"), md5(concat_ws("|",
        sort_array(collect_list(md5($"text".cast("binary")))))))
        .as[(Long, String)].head()
      assert(a == b, "CSV round-trip corrupted rows")
    }
  }

  test("ORC round-trip preserves every row and value") {
    withTempDir("graft_orc") { dir =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.write.mode("overwrite").orc(dir)
      val back = spark.read.schema(docSchema).orc(dir)
      assert(back.count() == docs.count())
      val a = docs.select($"doc_id", md5($"text".cast("binary")).as("fp"))
        .as[(Long, String)].collect().toMap
      val b = back.select($"doc_id", md5($"text".cast("binary")).as("fp"))
        .as[(Long, String)].collect().toMap
      assert(a == b, "text fidelity lost through ORC")
    }
  }

  test("hive-partitioned parquet layout prunes partitions at the scan") {
    // THE 100 TB table layout: partitionBy a low-cardinality routing column
    // so a filtered read touches only matching directories. Asserts the
    // pruning physically (files read), not just semantically.
    withTempDir("graft_part") { dir =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
      val back = spark.read.parquet(dir)
      val en = back.filter($"lang" === "en")
      // value fidelity for the pruned slice
      val expected = docs.filter($"lang" === "en")
        .select($"doc_id").as[Long].collect().toSet
      assert(en.select($"doc_id").as[Long].collect().toSet == expected)
      // physical pruning: input_file_name() reports the files EXECUTION
      // actually read — all must sit under lang=en, while the unfiltered
      // layout demonstrably holds other langs
      val allFiles = back.select(input_file_name()).distinct().as[String].collect()
      assert(allFiles.exists(!_.contains("lang=en")), "layout should have other langs")
      val scanned = en.select(input_file_name()).distinct().as[String].collect()
      assert(scanned.nonEmpty && scanned.forall(_.contains("lang=en")),
        s"partition pruning failed: scanned ${scanned.toSeq}")
    }
  }

  test("malformed JSON lines isolate into the corrupt-record column, not a job failure") {
    withTempDir("graft_bad") { dir =>
      Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
        """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}
          |{not json at all
          |{"doc_id": 2, "text": "also ok", "lang": "en", "source": "s", "n_chars": 7}
          |""".stripMargin.getBytes)
      val withCorrupt = docSchema.add("_corrupt_record", StringType)
      val read = spark.read.schema(withCorrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .cache() // corrupt-record column cannot be queried alone; cache keeps
                 // the full rows so both counts read the same materialization
      try {
        assert(read.count() == 3)
        assert(read.filter($"_corrupt_record".isNotNull).count() == 1)
        assert(read.filter($"doc_id".isNotNull).count() == 2)
      } finally read.unpersist()
    }
  }
}
