package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Plan-documentation main: dumps `explain("formatted")` for the headline
  * queries into PLANS.md so plan quality (pushdown, broadcast, codegen
  * spans, absence of cartesian products) is reviewable as text.
  * Regenerate after operator changes: `sbt "runMain graft.Plans"`. */
object Plans {
  private val headline = Seq(
    "sil", "fc_e", "a_rev", "f_dem",
    "mn_ps", "q1_a", "q5_m", "dd_mh",
    "dd_mx", "dd_jc", "dd_sh",
    "dc_ex", "s_st", "v_lsh", "st_ss",
    "q_as", "q_rng", "t_tf", "st_dd",
    "a_pv", "a_cum", "q_se", "q_sk",
    "t_hh", "t_pk", "st_sl", "st_jn",
    "q_cb", "q_abv", "t_rep", "st_en",
    "q_wf", "c_rp", "t_lm1", "t_bp",
    "q_at", "q_ss", "st_jo", "v_out",
    "sc_ups", "s_wt", "d_s2", "dd_ev",
    "q_af", "dq_ka", "s_sh", "t_pmi",
    "mn_ks", "t_zp", "mx_kl", "dd_su", "q_anr",
    "dc_bl", "mn_chi", "q_gs", "t_lm2", "dq_fr", "f_te",
    "t_fh", "v_rad", "t_wn", "mx_t", "mn_er",
    "st_cd", "q_unp", "f_bin", "dd_nm",
    "q_sop", "q_am", "a_rng", "a_cr", "st_ps", "q_fz",
    "s_tb", "dq_e", "mn_cp", "sc_fc", "q_z", "dd_rp", "v_pq",
    "m_od", "m_st", "m_pr", "m_co", "m_mk", "t_ppl", "sc_cb", "dq_ld",
    "dsir", "mn_an", "m_lp", "f_rm", "sc_ab", "m_tr", "sc_km", "dq_dp", "m_dw",
    "d_et", "fc_w", "cur", "dc_em", "m_ct", "vt_tt", "vt_m",
    "vt_w", "vt_pt", "vt_dv", "vt_u", "vt_cl", "vt_rw", "iv_ag",
    "vt_pb", "vt_cn", "vt_mc", "vt_cv", "vt_ow", "vt_rn",
    "vt_id", "dq_pf", "dq_s", "mm_dc", "mm_rz")

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Harness.session("local[4]", "4")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` over `$dir`. Things to check per plan:\n")
    sb.append("filters/columns reach the parquet scan (`PushedFilters`, `ReadSchema`),\n")
    sb.append("dims broadcast (`BroadcastHashJoin`), codegen spans (`WholeStageCodegen`),\n")
    sb.append("and no `CartesianProduct` anywhere.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(FormattedMode).take(8000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
    spark.stop()
  }
}
