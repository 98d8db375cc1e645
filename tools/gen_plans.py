"""Generate BENCH/PLANS.md: formatted physical plans of headline operators
with shuffle/codegen/pushdown summaries."""
import io, os, re, sys
from contextlib import redirect_stdout
sys.path.insert(0, "/root/repo")
from wayproblems_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark(master="local[8]", shuffle_partitions=8)
SF = "/root/testdata/sf0.01"

def t(n): return spark.read.parquet(f"{SF}/{n}.parquet")

def fmt(df):
    df.collect()  # run THIS plan so AQE finalizes (codegen ids only appear in the final plan)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

def summarize(plan):
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    ex = sum(1 for l in tree.splitlines() if re.search(r"\bExchange\b", l))
    py = sum(1 for l in tree.splitlines()
             if re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas", l))
    wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    return ex, py, wsc, pushed[:2]

sections = []

# 1. e2e rules pipeline (fixture corpus too heavy here; use the rule layer query)
import __spark_entry__ as E
frames = {
    "q08 rule-predicate layer (R2 semantics, pure codegen CASE)": E.q08_rule_layer_sql(spark, SF),
    "q26 document_stats (text analysis, all JVM exprs)": E.q26_doc_quality_sql(spark, SF),
    "q29 stratified_sample (codegen filter, no shuffle/RNG)": E.q29_stratified_sample_sql(spark, SF),
    "q28 byte_stats (JVM sniffer + ONE Arrow pass)": E.q28_binary_sniff_sql(spark, SF),
    "q32 vocab_topk (map-side-combined count + TakeOrdered)": E.q32_vocab_topk_sql(spark, SF),
    "q33 quantize_int8 (JVM array exprs)": E.q33_quantize_int8_sql(spark, SF),
}
# minhash band buckets (the dedup hot path)
from wayproblems_spark.operators.dedup import _band_buckets, _shingle_hash_rows
frames["minhash band buckets (shingle rows -> 64-col map-side-partial min)"] = _band_buckets(
    _shingle_hash_rows(t("documents"), "doc_id", "text", 5), 64, 16
)
# round-6 text-pipeline operators
frames["q42 chunk_documents (sequence+slice, zero shuffle)"] = E.q42_chunking_sql(spark, SF)
frames["q43 pack_sequences (sharded window cumsum + budget split)"] = E.q43_packing_sql(spark, SF)
frames["q44 redact_pii (regexp chain, scan-stage rewrite)"] = E.q44_pii_redact_sql(spark, SF)
frames["q45 repetition_stats (explode grams -> partial counts -> rollup)"] = E.q45_repetition_sql(spark, SF)
frames["q46 ngram_decontaminate (broadcast gram join + rollup)"] = E.q46_decontam_sql(spark, SF)
frames["q47 domain_stats (regex parse + partial agg)"] = E.q47_domain_stats_sql(spark, SF)
frames["q48 cap_per_key (one key shuffle + row_number)"] = E.q48_cap_per_key_sql(spark, SF)
frames["q41 bm25_score (pruned postings, broadcast df, decimal sum)"] = E.q41_bm25_sql(spark, SF)
frames["q38 asof_join (union -> one key shuffle -> sort carry)"] = E.q38_asof_join_sql(spark, SF)
frames["q39 spatial_range_join (grid equi-join, chord filter)"] = E.q39_spatial_range_join_sql(spark, SF)
frames["q51 unigram perplexity (broadcast LM join, one rollup shuffle)"] = E.q51_unigram_ppl_sql(spark, SF)
frames["q53 mix_sources (literal rates, codegen CASE + explode)"] = E.q53_mix_sources_sql(spark, SF)
frames["q54 shuffle_corpus (bucket window, NO SinglePartition)"] = E.q54_shuffle_rank_sql(spark, SF)
frames["q55 polygon overlay (cell co-bucket candidates + broadcast edge tests)"] = E.q55_overlay_sql(spark, SF)
frames["q56 zonal_stats (G4 ray cast + ONE poly-count-sized aggregate)"] = E.q56_zonal_stats_sql(spark, SF)
frames["q57 repeated_spans (gram count + covered join + per-doc island window)"] = E.q57_repeated_spans_sql(spark, SF)

out = ["# Plan audit — headline operators (`.explain(\"formatted\")`, local[8], sf0.01)\n",
       "Regenerate with `python tools/gen_plans.py`;",
       "the structural properties below are ALSO pinned by tests/test_plans.py and",
       "the per-operator plan assertions named in SURVEY.md §2.\n"]
for name, df in frames.items():
    plan = fmt(df)
    ex, py, wsc, pushed = summarize(plan)
    out.append(f"\n## {name}\n")
    out.append(f"**Exchanges (shuffles): {ex} · Python eval nodes: {py} · WholeStageCodegen spans: {wsc}**")
    if pushed:
        out.append("Scan pushdown: `" + "`, `".join(pushed) + "`")
    # trim plan: keep the FINAL tree (drop the pre-AQE Initial Plan copy
    # and the detailed operator list)
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0].rstrip().rstrip("+-").rstrip()
    lines = tree.splitlines()
    if len(lines) > 60:
        lines = lines[:60] + [f"... ({len(tree.splitlines())-60} more tree lines)"]
    out.append("\n```\n" + "\n".join(lines) + "\n```")
with open("/root/repo/BENCH/PLANS.md", "w") as f:
    f.write("\n".join(out) + "\n")
print("written")
spark.stop()
