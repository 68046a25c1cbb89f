package graft.pipeline

import java.time.LocalDate

import graft.ingest.{Workbook, Xlsx}
import graft.load.Load

/** The reference's entry point (`python src/main.py`, README.md:59-65)
  * re-expressed: glob a data directory of workbooks, run the pipeline,
  * replace the destination, print the load report.
  *
  * Configuration mirrors the reference's `.env` contract (S4,
  * `main.py:123` load_dotenv + `sample.env`): keys `HPV_DATA_DIR`
  * (default ./data), `HPV_DEST` (the destination path — the
  * reference's DATABASE/SCHEMA/DESTINATION_TABLE triple collapses to
  * one locator for the file-based sink), `HPV_SHEET` (default
  * Local_authority), resolved as args > process env > `.env` file
  * (path overridable via HPV_ENV_FILE) > default. CSV-staged workbooks
  * (*.csv) are accepted alongside *.xlsx.
  *
  * Like the reference, the run is one eager driver process: it builds
  * no Spark session. The workbooks are read on the driver, `transform`
  * returns the fact table as a local relation, and the load writes its
  * rows as parquet on the driver, under the destination's lock: a run
  * overlapping another writer fails naming the holder, table untouched.
  *
  * Usage: `sbt "runMain graft.pipeline.HpvMain [dataDir dest]"`.
  */
object HpvMain {
  def main(args: Array[String]): Unit = {
    val envFile = graft.core.DotEnv.parse(sys.env.getOrElse("HPV_ENV_FILE", ".env"))
    val dataDir = args.headOption
      .getOrElse(graft.core.DotEnv.get("HPV_DATA_DIR", envFile, "./data"))
    val dest = args.drop(1).headOption
      .getOrElse(graft.core.DotEnv.get("HPV_DEST", envFile, "./output/hpv_uptake"))
    val sheet = graft.core.DotEnv.get("HPV_SHEET", envFile, "Local_authority")

    val workbooks = Xlsx.glob(dataDir).map(p => Xlsx.readWorkbook(p, sheet)) ++
      Xlsx.glob(dataDir, ext = ".csv").map(p => Workbook.readCsvGrid(p))
    require(workbooks.nonEmpty, s"no *.xlsx or *.csv workbooks under $dataDir")

    val fact = HpvPipeline.transform(workbooks, LocalDate.now())
    // Load prints the reference's "Uploaded X rows to <dest>" signal (K4).
    Load.withLock(Load.localHadoopConf, dest, "HpvMain")(Load.replaceTable(fact, dest).get).get
  }
}
