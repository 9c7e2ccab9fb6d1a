package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.Ingest
import graft.model.Ipeds

/** The hand-built 990 and IPEDS extracts (FIXTURES.md B1-B4) behind the
  * golden-value suites and the plan-shape guards. Each call writes its
  * CSVs to a fresh temporary directory. */
object ScoringFixtures {

  private def writeCsv(dir: String, name: String, header: String,
                       rows: Seq[String]): String = {
    val p = s"$dir/$name"
    Files.writeString(java.nio.file.Paths.get(p), (header +: rows).mkString("\n"))
    p
  }

  /** The three 990 filing-type extracts, read: (standard, EZ, PF). */
  def form990Filings(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    val dir = Files.createTempDirectory("graft990").toFile.getAbsolutePath
    val stdHeader = "EIN,tax_pd,totrevenue,totprgmrevnue,totcntrbgfts,invstmntinc," +
      "totfuncexpns,compnsatncurrofcr,othrsalwages,pensionplancontrb,othremplyeebenef," +
      "payrolltx,profndraising,totassetsend,totliabend,totnetassetend," +
      "unrstrctnetasstsend,nonintcashend,svngstempinvend,accntsrcvblend," +
      "accntspayableend,deferedrevnuend,secrdmrtgsend,unsecurednotesend," +
      "lndbldgsequipend,paybletoffcrsend,currfrmrcvblend,noemplyeesw3cnt," +
      "ceaseoperationscd,sellorexchcd"
    val std = writeCsv(dir, "std.csv", stdHeader, Seq(
      // E1 2022: equity ratio 150000/1000000 = 0.15 -> golden 0.5
      "0001111,202212,1000000,600000,300000,50000,950000,100000,300000,20000,30000,40000,10000," +
        "1000000,850000,150000,100000,200000,100000,50000,80000,20000,100000,50000,400000,0,0,25,N,N",
      // E1 2023: revenue cagr (1100000/1000000)-1 = 0.10 -> trend ind 0.0
      "0001111,202312,1100000,650000,350000,60000,1000000,110000,320000,22000,33000,44000,11000," +
        "1100000,930000,170000,120000,200000,100000,60000,90000,25000,100000,50000,420000,0,0,26,N,N",
      // E2 2022: positive net assets
      "0002222,202212,500000,100000,350000,20000,520000,50000,150000,5000,10000,15000,40000," +
        "400000,390000,10000,5000,20000,5000,10000,60000,30000,150000,80000,100000,15000,5000,12,N,N",
      // E2 2023: revenue collapse -60% + net assets crossed negative + ceased
      "0002222,202312,200000,40000,140000,5000,380000,40000,120000,4000,8000,12000,35000," +
        "300000,350000,-50000,-60000,5000,1000,5000,70000,35000,140000,90000,90000,20000,8000,8,Y,N",
      // E3: single year, no trend indicators
      "0003333,202312,750000,400000,250000,30000,700000,80000,200000,15000,20000,30000,8000," +
        "900000,500000,400000,350000,150000,120000,40000,50000,10000,80000,30000,300000,0,0,18,N,N"))
    val ez = writeCsv(dir, "ez.csv",
      "EIN,taxpd,totrevnue,prgmservrev,totcntrbs,othrinvstinc,totexpns,totassetsend," +
        "totliabend,totnetassetsend,contractioncd",
      Seq(
        // E4: sparse EZ filing -> too few indicators, gated to NULL
        "0004444,202312,100000,,,,90000,,,,N",
        // duplicate of E1 2023 -> richer STD filing must win
        "0001111,202312,999999,,,,999999,,,,N"))
    val pf = writeCsv(dir, "pf.csv",
      "EIN,TAX_PRD,TOTRCPTPERBKS,GRSCONTRGIFTS,TOTEXPNSPBKS,TOTASSETSEND,TOTLIABEND," +
        "TFUNDNWORTH,OTHRCASHAMT,CONTRACTNCD",
      Seq("0005555,202312,80000,60000,70000,200000,50000,150000,30000,N"))
    (Ingest.readCsv(spark, std), Ingest.readCsv(spark, ez), Ingest.readCsv(spark, pf))
  }

  private def writeYear(dir: String, name: String, yearTag: String,
                        rows: Seq[String]): String = {
    val header = Seq(
      "unitid",
      s"institution name (HD$yearTag)",
      "Employer Identification Number",
      s"DRVEF$yearTag.Total  enrollment",
      s"DRVEF$yearTag.Full-time enrollment",
      s"EF${yearTag}D.Full-time retention rate",
      s"DRVGR$yearTag.Graduation rate, total cohort",
      s"DRVADM$yearTag.Percent admitted - total",
      s"DRVEF$yearTag.Student-to-faculty ratio",
      s"F${yearTag}_F2.Total assets",
      s"F${yearTag}_F2.Total liabilities",
      s"F${yearTag}_F2.Total net assets",
      s"F${yearTag}_F2.Total revenues and investment return",
      s"F${yearTag}_F2.Total expenses",
      s"F${yearTag}_F1A.Total assets",
      s"F${yearTag}_F1A.Net position",
      s"F${yearTag}_F1A.Total all revenues",
      s"F${yearTag}_F1A.Total expenses",
      s"F${yearTag}_F3.Total assets",
      s"F${yearTag}_F3.Total equity",
      s"F${yearTag}_F3.Total revenues and investment return",
      s"F${yearTag}_F3.Total expenses")
      // IPEDS labels contain commas ("Graduation rate, total cohort") —
      // they must be quoted or the header has more fields than the rows
      .map(h => if (h.contains(",")) "\"" + h + "\"" else h)
      .mkString(",")
    val p = s"$dir/$name"
    Files.writeString(java.nio.file.Paths.get(p), (header +: rows).mkString("\n"))
    p
  }

  /** Build a 22-field row positionally (hand-counting commas in wide CSV
    * fixtures is how the first version of this spec broke). */
  private def r(unitid: String, name: String, ein: String,
                enroll: String = "", ft: String = "", ret: String = "",
                grad: String = "", admit: String = "", sf: String = "",
                f2: Seq[String] = Seq.fill(5)(""),
                f1a: Seq[String] = Seq.fill(4)(""),
                f3: Seq[String] = Seq.fill(4)("")): String = {
    require(f2.size == 5 && f1a.size == 4 && f3.size == 4)
    (Seq(unitid, name, ein, enroll, ft, ret, grad, admit, sf) ++ f2 ++ f1a ++ f3)
      .mkString(",")
  }

  /** The two IPEDS survey years, standardized and assembled into the
    * panel with a one-filer 990 backfill. U1: healthy FASB; U2: GASB; U3:
    * small shrinking FASB school (cliff + enrollment floor + revenue
    * collapse floor); U4/U5: subsidiary pair sharing EIN 77001 with assets
    * within 1%; U6: no financials and no enrollment in either recent year
    * -> likely closed; U7: no IPEDS financials, 990-injected. */
  def ipedsPanel(spark: SparkSession): DataFrame = {
    val dir = Files.createTempDirectory("graftipeds").toFile.getAbsolutePath
    val y2023 = writeYear(dir, "ipeds23.csv", "2223", Seq(
      r("U1", "Alpha College", "11001", "5000", "4500", "90", "75", "35", "11",
        f2 = Seq("2000000", "600000", "1400000", "900000", "850000")),
      r("U2", "Beta State", "22001", "12000", "9000", "82", "60", "70", "16",
        f1a = Seq("5000000", "2500000", "2000000", "1900000")),
      r("U3", "Gamma Academy", "33001", "450", "400", "70", "45", "85", "14",
        f2 = Seq("300000", "200000", "100000", "200000", "210000")),
      r("U4", "Delta Univ", "77001", "8000", "7000", "85", "65", "50", "13",
        f2 = Seq("4000000", "1500000", "2500000", "1500000", "1400000")),
      r("U5", "Delta Univ - Online", "77001", "900", "800", "75", "50", "80", "20",
        f2 = Seq("3970000", "1480000", "2490000", "400000", "390000")),
      r("U6", "Omega Institute", "66001", ret = "60", grad = "30"),
      r("U7", "Sigma Seminary", "55001", "300", "250", "78", "55", "60", "10")))
    val y2024 = writeYear(dir, "ipeds24.csv", "2324", Seq(
      r("U1", "Alpha College", "11001", "5100", "4600", "91", "76", "34", "11",
        f2 = Seq("2100000", "620000", "1480000", "950000", "880000")),
      r("U2", "Beta State", "22001", "11800", "8900", "81", "61", "71", "16",
        f1a = Seq("5100000", "2550000", "2050000", "1950000")),
      // U3: enrollment 450 -> 350 (-22%), revenue 200000 -> 80000 (-60%)
      r("U3", "Gamma Academy", "33001", "350", "300", "65", "40", "88", "15",
        f2 = Seq("250000", "190000", "60000", "80000", "150000")),
      r("U4", "Delta Univ", "77001", "8100", "7100", "86", "66", "49", "13",
        f2 = Seq("4100000", "1520000", "2580000", "1550000", "1450000")),
      r("U5", "Delta Univ - Online", "77001", "950", "850", "76", "51", "79", "19",
        f2 = Seq("4080000", "1510000", "2570000", "420000", "400000")),
      r("U6", "Omega Institute", "66001"),
      r("U7", "Sigma Seminary", "55001", "310", "260", "79", "56", "59", "10")))
    import spark.implicits._
    val f990 = Seq(
      ("55001", 2024, 120000.0, 110000.0, 500000.0, 300000.0))
      .toDF("ein", "year", "total_revenue", "total_expenses", "total_assets", "net_assets")
    Ipeds.buildPanel(Seq(
      Ipeds.standardizeYear(Ingest.readCsv(spark, y2023), 2023),
      Ipeds.standardizeYear(Ingest.readCsv(spark, y2024), 2024)),
      Some(f990))
  }
}
