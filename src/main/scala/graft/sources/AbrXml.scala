package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Cleaning

/** S1 — ABR bulk-XML ingestion (SURVEY.md §2.1 S1), replacing the
  * reference's incremental lxml.iterparse loop
  * (/root/reference/extract/abr_parser.py:71-87) with Spark 4's native XML
  * source: `rowTag=ABR` streams elements per-partition with constant
  * memory, and the 50k-row insert batching (abr_parser.py:20,82) collapses
  * into the distributed writer.
  *
  * The reader declares the record schema ([[Schema]]) instead of inferring
  * it, so a load parses the files once: inference is a separate job that
  * parses every file (default `samplingRatio` 1.0) before the read proper.
  * Every field is a string, because inference types digit-only text as a
  * number — `<Postcode>0800</Postcode>` (NT; ACT/NSW 02xx alike) became
  * 800 and could never block against the "0800" the crawl side extracts.
  * Elements absent from a record come back null.
  */
object AbrXml {

  /** The fields abr_parser.py:51-68 reads: ABN text + @status +
    * @ABNStatusFromDate (the element text lands in `_VALUE`, attributes in
    * `_`-prefixed fields, with or without attributes present),
    * EntityType/EntityTypeText,
    * MainEntity/NonIndividualName/NonIndividualNameText,
    * MainEntity/BusinessAddress/AddressDetails/{State,Postcode}. */
  val Schema: StructType = StructType.fromDDL(
    "ABN STRUCT<_VALUE: STRING, _status: STRING, _ABNStatusFromDate: STRING>, " +
      "EntityType STRUCT<EntityTypeText: STRING>, " +
      "MainEntity STRUCT<NonIndividualName: STRUCT<NonIndividualNameText: STRING>, " +
      "BusinessAddress: STRUCT<AddressDetails: STRUCT<State: STRING, Postcode: STRING>>>")

  /** Read raw `<ABR>` rows of [[Schema]] from bulk XML file(s). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "ABR")
      .schema(Schema)
      .load(path)

  /** Project [[read]]'s nested rows into the flat stg.abr_raw_companies
    * shape ([[graft.model.AbrCompany]]), incl. the reference's address
    * synthesis (abr_parser.py:66) and yyyyMMdd date parse (:55). */
  def toStaging(raw: DataFrame): DataFrame = {
    val state = col("MainEntity.BusinessAddress.AddressDetails.State")
    val pc = col("MainEntity.BusinessAddress.AddressDetails.Postcode")
    raw.select(
      col("ABN._VALUE").as("abn"),
      col("MainEntity.NonIndividualName.NonIndividualNameText").as("entity_name"),
      col("EntityType.EntityTypeText").as("entity_type"),
      col("ABN._status").as("entity_status"),
      Cleaning.synthesizeAddress(state, pc).as("address"),
      pc.as("postcode"),
      state.as("state"),
      Cleaning.parseAbrDate(col("ABN._ABNStatusFromDate")).as("start_date"))
  }
}
