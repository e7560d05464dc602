package graft.tools

import graft.GraftSession

/** Child JVM for RestMountCrossProcessSpec — a PROCESS whose only
  * knowledge of the lake is a wire-catalog URI. It is handed no
  * registry path, no table location, no engine-side registration:
  * every resolution (table name → metadata, tag → snapshot) must come
  * from `GET /v1/…` + LoadTableResult JSON through
  * [[graft.sources.RestBackedCatalog]], exactly how the reference's
  * engines mount Lakekeeper over the wire with nothing but
  * `iceberg.rest-catalog.uri` + `warehouse`
  * (/root/reference/etc/catalog/iceberg.properties:28-31).
  *
  * args: uri db table tag outDir. Writes the HEAD read to
  * `outDir/head` and the `VERSION AS OF '<tag>'` read to
  * `outDir/tagged` (parquet), then prints `MOUNT_READER_DONE
  * head=<n> tagged=<n>` for the parent to assert on.
  */
object RestMountReader {
  def main(args: Array[String]): Unit = {
    val Array(uri, db, table, tag, outDir) = args
    val spark = GraftSession.build(2)
    spark.conf.set("spark.sql.catalog.wire", "graft.sources.RestBackedCatalog")
    spark.conf.set("spark.sql.catalog.wire.uri", uri)
    spark.conf.set("spark.sql.catalog.wire.mount-root", s"$outDir/mounts")
    try {
      val head = spark.table(s"wire.$db.$table")
      head.write.mode("overwrite").parquet(s"$outDir/head")
      val tagged =
        spark.sql(s"SELECT * FROM wire.$db.$table VERSION AS OF '$tag'")
      tagged.write.mode("overwrite").parquet(s"$outDir/tagged")
      val h = spark.read.parquet(s"$outDir/head").count()
      val t = spark.read.parquet(s"$outDir/tagged").count()
      println(s"MOUNT_READER_DONE head=$h tagged=$t")
    } finally spark.stop()
  }
}
