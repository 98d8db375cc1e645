"""Source-weighted corpus mixing — the Pile / Dolma / RedPajama recipe:
given target mixture proportions over sources (web 60%, code 15%, books
10%, ...), emit a training corpus whose per-source TOKEN mass matches
the proportions, upsampling scarce sources by repeating them for up to
``max_epochs`` passes (every published LM data recipe upsamples books /
Wikipedia this way) and downsampling abundant ones with a deterministic
frozen draw.

Semantics (all decisions a pure function of the row key — reruns,
resumes, repartitionings, and engine ports agree exactly):

  T_s        = token count of source s in the corpus
  cap_s      = max_epochs * T_s / w_s     (most tokens s can support)
  N          = min(min_s cap_s, total_tokens)   (achievable mix size)
  rate_s     = w_s * N / T_s              (epochs of s in the mix)
  n_copies   = floor(rate_s) + 1{md5_u32(salt||id) < frac(rate_s)*2^32}

Each kept row is emitted once per copy with an ``epoch`` column
(0-based), so downstream packing/shuffling sees distinct rows. The
fractional epoch is a per-document frozen md5 draw (sampling.py's
engine-portable mechanism), NOT ``df.sample`` — decisions survive
repartitioning and are replicable in any SQL engine.

Scale shape: one aggregation to get per-source token totals (bounded by
the number of sources — the only driver round-trip), then a codegen
CASE projection + explode on the scan: no shuffle, no RNG state, no
driver-side loops over rows. Rates fold into the plan as literals.
Float contract: every rate is composed left-to-right as
``(w * N) / T`` with ``N = min(max_epochs * T_s / w_s)`` — one IEEE
double op per step, so a SQL oracle recomputing the same composition
reproduces every threshold bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .ranking import _toks
from .sampling import _DENOM, _hash_u32


def _mix_rates(
    totals: dict[str, int],
    weights: dict[str, float],
    total_tokens: int | None,
    max_epochs: float,
) -> tuple[float, dict[str, float]]:
    """(N, {source: rate}) — the pure float core, exposed for tests and
    for the SQL-oracle contract (composition is load-bearing: each step
    is one IEEE double op, replicated verbatim in the oracle)."""
    w_sum = sum(weights.values())
    norm = {s: w / w_sum for s, w in weights.items()}
    caps = [max_epochs * totals[s] / norm[s] for s in weights]
    n = min(caps)
    if total_tokens is not None:
        n = min(n, float(total_tokens))
    return n, {s: norm[s] * n / totals[s] for s in weights}


def mix_sources(
    docs: DataFrame,
    weights: dict[str, float],
    total_tokens: int | None = None,
    max_epochs: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
    salt: str = "mix",
    use_join_rates: bool | None = None,
) -> tuple[DataFrame, dict]:
    """Mix ``docs`` to the target source proportions. Returns
    ``(mixed_df, stats)``: ``mixed_df`` = the input rows of weighted
    sources, each repeated ``n_copies`` times with an ``epoch`` column;
    ``stats`` = per-source ``{tokens, weight, rate, epochs_full,
    expected_tokens}`` plus ``{"_target_tokens": N}`` for the funnel.

    Sources absent from ``weights`` are dropped. A weighted source with
    no corpus tokens raises (the proportion is unsatisfiable; pick your
    own fallback explicitly). ``token_count_col`` overrides the default
    whitespace-token count (pass a precomputed BPE count column).

    Physical shape of the per-row decision: a literal CASE when the
    weight map is small, a broadcast join against a (source, n_full,
    threshold) table when it is large (``use_join_rates``: None = auto
    at >64 sources — a domain-level mix with 10^5 keys must not become
    a 10^5-branch plan expression). Both paths make bit-identical
    decisions.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {weights}")
    if max_epochs < 1.0:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")

    tok = (
        F.col(token_count_col)
        if token_count_col
        else F.size(_toks(F.col(text_col)))
    )
    totals = {
        r["s"]: int(r["t"] or 0)
        for r in docs.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(tok).alias("t"))
        .collect()
        if r["s"] in weights
    }
    missing = [s for s in weights if totals.get(s, 0) <= 0]
    if missing:
        raise ValueError(f"weighted sources absent from corpus: {missing}")

    n, rates = _mix_rates(totals, weights, total_tokens, max_epochs)

    w_sum = sum(weights.values())
    stats: dict = {"_target_tokens": n}
    cuts = {}
    for s in sorted(weights):
        rate = rates[s]
        n_full = int(rate)
        cuts[s] = (n_full, int((rate - n_full) * _DENOM))
        stats[s] = {
            "tokens": totals[s],
            "weight": weights[s] / w_sum,
            "rate": rate,
            "epochs_full": n_full,
            "expected_tokens": rate * totals[s],
        }

    u = _hash_u32(F.col(id_col), salt)
    if use_join_rates is None:
        use_join_rates = len(weights) > 64
    if use_join_rates:
        rdf = local_frame(
            docs.sparkSession,
            [(s, nf, thr) for s, (nf, thr) in cuts.items()],
            f"{source_col} string, _nf int, _thr long",
        )
        # inner join both applies the rates AND drops unweighted sources
        base = docs.join(F.broadcast(rdf), source_col).withColumn(
            "_nc", F.col("_nf") + (u < F.col("_thr")).cast("int")
        )
        drop_cols = ["_nc", "_nf", "_thr"]
    else:
        nfull_expr, thr_expr = F.lit(0), F.lit(0).cast("long")
        for s, (nf, thr) in cuts.items():
            nfull_expr = F.when(
                F.col(source_col) == s, F.lit(nf)
            ).otherwise(nfull_expr)
            thr_expr = F.when(
                F.col(source_col) == s, F.lit(thr).cast("long")
            ).otherwise(thr_expr)
        base = docs.withColumn(
            "_nc", nfull_expr + (u < thr_expr).cast("int")
        )
        drop_cols = ["_nc"]
    mixed = (
        base.filter(F.col("_nc") > 0)  # sequence(0,-1) DESCENDS
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
        .drop(*drop_cols)
    )
    return mixed, stats
