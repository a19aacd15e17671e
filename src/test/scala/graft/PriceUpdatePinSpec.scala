package graft

import graft.ingest.RawSheetReader
import graft.operators.Checkpoints
import graft.pipeline.PriceUpdate

/** `PriceUpdate.run` computes the price update once, into one pin that
  * its result frames read, and `Result.close` releases it. */
class PriceUpdatePinSpec extends SparkTestBase {
  import spark.implicits._

  test("run pins once; close releases the pin, and a second close is a " +
    "no-op") {
    val sc = spark.sparkContext
    val cfg = RawSheetReader.Config(aliases = Seq("Numero de inmueble" -> Nil))
    val grid = Seq(
      Array("Numero de inmueble", "Precio de lista", "Estado de inmueble",
        "Tipologia"),
      Array("101", "1.000,00", "Disponible", "A-1"),
      Array("102", "2.000,00", "Vendido", "B-2"))
    val sheet = RawSheetReader.fromGrid(spark, grid, "quilca.xls", "Quilca",
      cfg)
    val sperant = Seq(("Quilca", "101", 1100.0, "Vendido",
      "2024-02-01 00:00:00", 1L)).toDF("nombre_proyecto", "nombre",
      "precio_lista", "estado_comercial", "fecha_actualizacion", "_row")
    val bystander = Checkpoints.pin(spark.range(3).toDF())
    val before = sc.getPersistentRDDs.keySet
    val r = PriceUpdate.run(Seq(sheet), sperant)
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size === 1, "one pin")
    assert(!r.updated.columns.exists(Set("_file_ord", "_file_row",
      "Cambio_PrecioLista", "Cambio_Estado", "Algun_Cambio", "Sin_Cambio")))
    assert(r.detalle.count() === 1)
    r.close()
    assert((sc.getPersistentRDDs.keySet & pinned).isEmpty, "pin released")
    r.close()
    assert((sc.getPersistentRDDs.keySet & pinned).isEmpty)
    assert(bystander.count() === 3, "close releases only the run's pin")
    Checkpoints.release(bystander)
  }
}
