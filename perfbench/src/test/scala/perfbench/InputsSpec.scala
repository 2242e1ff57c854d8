package perfbench

import java.nio.file.Files

import graft.pipeline.Pipeline
import graft.schemas.Schemas
import graft.sources.Sources

class InputsSpec extends SparkSuite {

  private val monthRows = 20000

  test("the same seed gives the same inputs, another seed other inputs") {
    val a = new Inputs.Layout(7, monthRows)
    val b = new Inputs.Layout(7, monthRows)
    val c = new Inputs.Layout(8, monthRows)
    val ids = Seq(0L, 1L, 999L, monthRows - 1L, monthRows + 5L)
    assert(ids.map(Inputs.flightLine(a, _)) == ids.map(Inputs.flightLine(b, _)))
    assert(ids.map(Inputs.flightLine(a, _)) != ids.map(Inputs.flightLine(c, _)))
    assert(Inputs.airportCodes(7) == Inputs.airportCodes(7))
    assert(Inputs.airportCodes(7) != Inputs.airportCodes(8))
    val codes = Inputs.airportCodes(7)
    assert(codes.distinct.size == Inputs.airportCount && codes == codes.sorted)
    assert(codes.forall(c => c.length == 3 && c == c.toUpperCase))
  }

  test("every flight has the 29 raw columns") {
    val l = new Inputs.Layout(3, monthRows)
    val header = Inputs.flightsHeader.split(",", -1)
    assert(header.toSeq == Schemas.flightsRaw.fieldNames.toSeq.updated(28, ""))
    (0L until 500L).foreach(i => assert(Inputs.flightLine(l, i).split(",", -1).length == 29))
  }

  test("fact rows are distinct after projection, and a load appends what the layout predicts") {
    val dir = Files.createTempDirectory("perfbench-inputs").toFile
    try loadTwice(dir) finally Main.deleteTree(dir.toPath)
  }

  private def loadTwice(dir: java.io.File): Unit = {
    val l = new Inputs.Layout(5, monthRows)
    val airports = new java.io.File(dir, "airports.csv")
    val carriers = new java.io.File(dir, "carriers.csv")
    val month = new java.io.File(dir, "month/flights.csv")
    val batch = new java.io.File(dir, "batch/flights.csv")
    Inputs.writeAirports(5, airports)
    Inputs.writeCarriers(5, carriers)
    Inputs.writeFlights(l, 0, monthRows, month)
    val batchRange = (monthRows.toLong - l.coveringRun, monthRows + 3000L)
    Inputs.writeFlights(l, batchRange._1, batchRange._2, batch)
    def raw(f: java.io.File) = (Sources.csv(spark, f.getPath, Schemas.flightsRaw),
      Sources.csv(spark, airports.getPath, Schemas.airportsRaw),
      Sources.csv(spark, carriers.getPath, Schemas.carriersRaw))
    val (f, a, c) = raw(month)
    val fact = Pipeline.build(spark, f, a, c).flights
    assert(fact.count() == monthRows)
    assert(fact.distinct().count() == monthRows)
    assert(fact.where("arrival_airport_id_fk IS NULL OR destination_airport_id_fk IS NULL " +
      "OR date_id_fk IS NULL OR delay_id_fk IS NULL").count() == 0)

    val wh = new java.io.File(dir, "warehouse").getPath
    val full = Pipeline.run(spark, f, a, c, wh)
    assert(full == Inputs.expectedAppends(l, (0, 0), (0, monthRows)))
    val (bf, ba, bc) = raw(batch)
    val again = Pipeline.run(spark, bf, ba, bc, wh)
    val expected = Inputs.expectedAppends(l, (0, monthRows), batchRange)
    assert(again == expected)
    assert(expected("flights") == 3000 && expected("date") == 31 && expected("delays") == 0)
  }
}
