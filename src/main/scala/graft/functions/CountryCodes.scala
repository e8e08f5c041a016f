package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bundled ISO-3166 reference table replacing the reference's per-row
  * pycountry/pycountry_convert UDFs (BBT-ETL-DW scripts/etl_transform/
  * add_columns.py:42-62): name -> alpha-3 + continent code for every
  * country name occurring in the reference data (FIXTURES.md §5), with the
  * reference's uk/united-kingdom special case and miss -> "UNK" policy.
  *
  * Data is public ISO 3166 / continent knowledge; continent codes follow
  * pycountry_convert's two-letter scheme (EU/NA/SA/AS/OC/AF).
  */
object CountryCodes {

  /** lowercase name -> (alpha3, continent) */
  val table: Map[String, (String, String)] = Map(
    "argentina" -> ("ARG", "SA"),
    "australia" -> ("AUS", "OC"),
    "austria" -> ("AUT", "EU"),
    "belgium" -> ("BEL", "EU"),
    "brazil" -> ("BRA", "SA"),
    "canada" -> ("CAN", "NA"),
    "denmark" -> ("DNK", "EU"),
    "estonia" -> ("EST", "EU"),
    "finland" -> ("FIN", "EU"),
    "france" -> ("FRA", "EU"),
    "germany" -> ("DEU", "EU"),
    "greece" -> ("GRC", "EU"),
    "ireland" -> ("IRL", "EU"),
    "italy" -> ("ITA", "EU"),
    "japan" -> ("JPN", "AS"),
    "latvia" -> ("LVA", "EU"),
    "lithuania" -> ("LTU", "EU"),
    "luxembourg" -> ("LUX", "EU"),
    "malta" -> ("MLT", "EU"),
    "mexico" -> ("MEX", "NA"),
    "netherlands" -> ("NLD", "EU"),
    "norway" -> ("NOR", "EU"),
    "poland" -> ("POL", "EU"),
    "portugal" -> ("PRT", "EU"),
    "singapore" -> ("SGP", "AS"),
    "slovakia" -> ("SVK", "EU"),
    "slovenia" -> ("SVN", "EU"),
    "spain" -> ("ESP", "EU"),
    "sweden" -> ("SWE", "EU"),
    "switzerland" -> ("CHE", "EU"),
    // the reference special-cases these to United Kingdom (add_columns.py:45)
    "uk" -> ("GBR", "EU"),
    "united kingdom" -> ("GBR", "EU"),
    "usa" -> ("USA", "NA"),
    "united states" -> ("USA", "NA"),
    "venezuela" -> ("VEN", "SA"))

  private def joined(df: DataFrame, keyCol: String, outCol: String,
                     value: ((String, String)) => String): DataFrame =
    Lookups.withLookup(df, table.map { case (k, v) => k -> value(v) },
      lower(trim(col(keyCol))), outCol)

  /** U2 — attach alpha-3 code (misses, incl. dirty names like `Germani#`,
    * -> "UNK").
    */
  def withIsoCode(df: DataFrame, keyCol: String, outCol: String): DataFrame =
    joined(df, keyCol, outCol, _._1)

  /** U3 — attach continent code. */
  def withContinent(df: DataFrame, keyCol: String, outCol: String): DataFrame =
    joined(df, keyCol, outCol, _._2)
}
