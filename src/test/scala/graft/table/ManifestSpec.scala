package graft.table

import org.scalatest.funsuite.AnyFunSuite

/** The table manifest's JSON contract: the exact bytes the writer
  * emits, lossless round-trips of any string, a reader that finds
  * fields by name, and loud failure on a missing field.
  */
class ManifestSpec extends AnyFunSuite {

  test("toJson of a fixed manifest is pinned byte for byte") {
    val full = Manifest(7L, Some(6L), 1700000000000L, "day_epoch", Map(
      "2" -> PartitionEntry("data/snap=7/day_epoch=2", 4L, -9L,
        Some(PartitionLineage(3L, "error:X: boom", Some("e1"), Some(0L), Some(9L)))),
      "1" -> PartitionEntry("", 0L, 0L, Some(PartitionLineage(3L, "ok"))),
      "0" -> PartitionEntry("data/snap=5/day_epoch=0", 10L, 42L, None)),
      bucketCol = Some("band_bucket"))
    assert(full.toJson ==
      """{"format":5,"snapshot":7,"parent":6,"timestamp_ms":1700000000000,""" +
      """"partition_col":"day_epoch","bucket_col":"band_bucket",""" +
      """"schema":{"type":"struct","fields":[]},"partitions":{""" +
      """"0":{"path":"data/snap=5/day_epoch=0","rows":10,"checksum":42},""" +
      """"1":{"path":"","rows":0,"checksum":0,"lineage":{"input_snapshot":3,"status":"ok"}},""" +
      """"2":{"path":"data/snap=7/day_epoch=2","rows":4,"checksum":-9,""" +
      """"lineage":{"input_snapshot":3,"status":"error:X: boom","error":"e1",""" +
      """"id_min":0,"id_max":9}}}}""")
    assert(Manifest(0L, None, 1L, "day_epoch", Map.empty).toJson ==
      """{"format":5,"snapshot":0,"parent":null,"timestamp_ms":1,""" +
      """"partition_col":"day_epoch","schema":{"type":"struct","fields":[]},""" +
      """"partitions":{}}""")
  }

  test("strings holding quotes, backslashes and control characters round-trip") {
    val m = Manifest(3L, Some(2L), 5L, "p\"\\col", Map(
      "a\"b\\c" -> PartitionEntry("data/snap=3/x=\\\"", 1L, 2L,
        Some(PartitionLineage(1L, "st\"a\\tus", Some("e\\\"rr\nline\ttab"),
                              Some(-1L), Some(1L))))),
      bucketCol = Some("b\"k"))
    assert(Manifest.fromJson(m.toJson) == m)
  }

  test("fields are read by name: reordered keys and whitespace keep every partition") {
    val json =
      """{
        |  "partitions": {
        |    "2": { "lineage": { "status": "ok", "input_snapshot": 1 },
        |           "checksum": 9, "rows": 4, "path": "data/snap=2/d=2" },
        |    "1": { "rows": 3, "path": "data/snap=1/d=1", "checksum": -2 }
        |  },
        |  "partition_col" : "d", "timestamp_ms": 5, "parent": 1,
        |  "schema": { "fields": [], "type": "struct" },
        |  "snapshot": 2, "format": 5
        |}""".stripMargin
    assert(Manifest.fromJson(json) == Manifest(2L, Some(1L), 5L, "d", Map(
      "1" -> PartitionEntry("data/snap=1/d=1", 3L, -2L, None),
      "2" -> PartitionEntry("data/snap=2/d=2", 4L, 9L,
                            Some(PartitionLineage(1L, "ok"))))))
  }

  test("an entry missing a required field fails naming it") {
    val json = """{"format":5,"snapshot":1,"parent":null,"timestamp_ms":1,""" +
      """"partition_col":"d","schema":{"type":"struct","fields":[]},""" +
      """"partitions":{"0":{"path":"p","rows":1,"checksum":1},""" +
      """"7":{"path":"q","checksum":3}}}"""
    val e = intercept[IllegalStateException](Manifest.fromJson(json))
    assert(e.getMessage.contains("\"rows\"") && e.getMessage.contains("\"7\""),
      e.getMessage)
  }

  test("the schema round-trips: binary, struct, array and map columns") {
    import org.apache.spark.sql.types._
    val inner = StructType(Seq(StructField("ts", LongType),
      StructField("v", DoubleType, nullable = false)))
    val schema = StructType(Seq(
      StructField("block", BinaryType),
      StructField("pt", inner),
      StructField("pts", ArrayType(inner, containsNull = false)),
      StructField("tags", MapType(StringType, ArrayType(IntegerType))),
      StructField("day_epoch", LongType)))
    val m = Manifest(1L, None, 2L, "day_epoch",
      Map("0" -> PartitionEntry("data/snap=1/day_epoch=0", 3L, 4L, None)),
      schema = schema)
    val back = Manifest.fromJson(m.toJson)
    assert(back == m && back.schema == schema)
  }

  test("a manifest of format 4 (no schema) fails naming its format") {
    val v4 = """{"format":4,"snapshot":1,"parent":null,"timestamp_ms":1,""" +
      """"partition_col":"d","partitions":{"0":{"path":"p","rows":1,"checksum":1}}}"""
    val e = intercept[IllegalStateException](Manifest.fromJson(v4))
    assert(e.getMessage.contains("format 4") && e.getMessage.contains("rebuild"),
      e.getMessage)
  }
}
