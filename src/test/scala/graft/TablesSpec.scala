package graft

import java.nio.file.Paths

class TablesSpec extends GraftTestBase {

  behavior of "Tables.schemas"

  it should "equal the schema inferred from every testdata Parquet footer" in {
    Tables.schemas.keySet shouldBe Tables.all.toSet
    // every scale factor beside the specs' own
    val root = Paths.get(sf).getParent
    val drift = for {
      scale <- Seq("sf0.001", "sf0.01", "sf0.1")
      t <- Tables.all
      inferred = spark.read.parquet(root.resolve(s"$scale/$t.parquet").toString).schema
      if inferred != Tables.schemas(t)
    } yield s"$scale/$t: declared ${Tables.schemas(t).toDDL}, footer ${inferred.toDDL}"
    drift shouldBe empty
  }

  it should "be the schema every table reads with" in {
    Tables.all.foreach(t => Tables(spark, sf, t).schema shouldBe Tables.schemas(t))
  }
}
