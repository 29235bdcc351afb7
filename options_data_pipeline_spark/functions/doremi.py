"""DoReMi-lite: in-engine domain-mixture weight optimization by
multiplicative-weights mirror descent over per-domain EXCESS LOSSES —
the training-mixture move of DoReMi (Xie et al. 2023), reduced to what
an analytics engine can compute exactly without training a proxy model:

* the per-domain unigram LM stands in for the proxy/reference pair —
  the REFERENCE loss of domain d is its own entropy
  ``H_d = −Σ_t p̂_d(t)·ln p̂_d(t)`` (the floor any mixture can reach on
  d), and the CURRENT loss is the cross-entropy of d under the mixture
  LM ``L_d(w) = −Σ_t p̂_d(t)·ln p_mix(t)`` with
  ``p_mix = Σ_d w_d·p̂_d``;
* the excess ``max(0, L_d − H_d) = KL(p̂_d ‖ p_mix)`` is exactly
  DoReMi's "how much headroom the current mixture leaves on d" signal:
  domains the mixture underserves carry positive excess and GAIN
  weight, and as w tilts toward d, p_mix → p̂_d and the excess
  self-limits — the loop genuinely iterates;
* the update is the exp-free multiplicative-weights step
  ``u_d = w_d·(1 + η·excess_d)``, then simplex renormalization — the
  first-order form of the exponentiated-gradient step, chosen exactly
  like quality_train's rational squash: no transcendental whose last
  ulp differs across engines (ln appears only under the 6-dp snap).

Float-determinism contract (the quality_train discipline, verbatim):
every ln is snapped to the 6-dp grid; every product entering a sum is
rounded half-away to the 12-dp grid and summed as DECIMAL(38,12) —
order-free, so the 1000-executor sum equals the single-threaded oracle
sum exactly; η = 0.5 (power of two — the multiply is exact); the
driver-side update mirrors the oracle's CTE arithmetic op for op
(exact DECIMAL subtraction for the excess, correctly-rounded
decimal→double casts, one double division per weight, ROUND_HALF_UP
quantization = F.round = SQL round). The whole trajectory is a pure
function of the corpus; the DuckDB oracle replays it as an unrolled
MATERIALIZED CTE chain (one mixture CTE + one loss CTE + one update
CTE per step).

Scale shape: ONE corpus tokenization builds the (source, token, p̂)
model table (one token-grain shuffle, map-side combined), which is
localCheckpointed; every iteration is one (token)-grain agg over the
MODEL (vocab×domains rows — millions, never the corpus) plus one
domain-grain agg — the corpus is never re-read. The driver holds k
doubles (k = |domains|). Reference analogue: none — extension track
(SURVEY §2.10), the mixture rung above `temperature_mixture`'s
α-heuristic and `dsir_weights`' importance sampling.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .loop_sql import sql_double, temp_view

#: fixed optimization configuration — part of the cross-engine contract
ITERS = 8
ETA = 0.5  # power of two: the excess multiply is exact

_G12 = Decimal("1e-12")
_G9 = Decimal("1e-9")


def _q12(x: float) -> Decimal:
    """Driver-side twin of F.round(col, 12): exact binary expansion of
    the double, quantized half-away to the 12-dp grid — BigDecimal
    semantics, bit-compatible with the engine's rounding."""
    return Decimal(x).quantize(_G12, rounding=ROUND_HALF_UP)


def _q9(x: float) -> Decimal:
    """Driver-side twin of F.round(col, 9) — the centroid/share grid."""
    return Decimal(x).quantize(_G9, rounding=ROUND_HALF_UP)


def domain_token_model(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, tok, p) — each domain's exact unigram distribution
    (p = c/N_d, one correctly-rounded IEEE division). One token-grain
    shuffle; this is the ONLY pass that touches the corpus."""
    toks = docs.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("tok"),
    )
    cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return model_from_counts(cnt)


def model_from_counts(cnt: DataFrame) -> DataFrame:
    """(source, tok, c) exact counts → (source, tok, p) model — the
    one division of `domain_token_model`, shared with the streaming
    twin, which maintains the counts incrementally and recomposes p
    from them (exact ints in, identical IEEE division out — that is
    what makes stream-maintained and batch-computed trajectories
    bit-equal)."""
    nd = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    return cnt.join(nd, "source").select(
        "source", "tok", (F.col("c").cast("double") / F.col("n").cast("double")).alias("p")
    )


def checkpoint_model(model: DataFrame) -> DataFrame:
    """Materialize the (source, tok, p) model for the iteration loop:
    hash(tok)-partitioned checkpoint, so each iteration's tok-grain agg
    and tok-keyed join back need no exchange (LogicalRDD preserves
    outputPartitioning — guide §2.4), plus, when the table is tiny
    (vocab×domains ≤ 1M rows), a single-partition compact copy on top
    so the ~10 per-iteration agg jobs schedule one task instead of one
    per shuffle partition (guide §2.2 — the quality_train _gd_table
    rationale). The row count rides the checkpoint job as an
    Observation (no extra job); the compact step is a no-op at
    production vocab scale. DECIMAL sums are order-free exact, so
    partitioning never changes the trajectory."""
    from pyspark.sql import Observation

    obs = Observation()
    m = (
        model.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition("tok")
        .localCheckpoint(eager=True)
    )
    if obs.get["n"] <= 1 << 20:
        return m.coalesce(1).localCheckpoint(eager=True)
    return m


def _neg_xent(model: DataFrame, pm_col) -> DataFrame:
    """Σ_t p̂_d(t)·ln(q(t)) per domain, on the grids: ln snapped to 6 dp,
    each product to 12 dp, DECIMAL(38,12) sum (order-free). The negative
    cross-entropy; callers negate."""
    term = F.round(F.col("p") * F.round(F.log(pm_col), 6), 12).cast(
        "decimal(38,12)"
    )
    return model.groupBy("source").agg(F.sum(term).alias("lneg"))


def doremi_trajectory(
    model: DataFrame, iters: int = ITERS, eta: float = ETA
) -> tuple[dict[str, float], dict[str, Decimal], dict[str, Decimal]]:
    """Run the fixed-iteration mirror-descent loop over a (source, tok,
    p) model table. Returns (final weights, final-mixture excess per
    domain as exact DECIMAL, domain entropies H_d as exact DECIMAL —
    negated lneg). The per-iteration Spark job is the module-docstring
    shape; the driver update mirrors the oracle bit for bit."""
    hneg = {
        r["source"]: r["lneg"]
        for r in _neg_xent(model, F.col("p")).collect()
    }
    sources = sorted(hneg)
    k = len(sources)
    w = {s: 1.0 / k for s in sources}

    # r13 (guide §7.3 driver-side work + §2.4): each iteration used to
    # build the mixture plan through ~30 py4j Column calls and run a
    # tok-grain agg whose result JOINED back onto the model. The model
    # is STATIC across iterations, so it gets one temp view, and each
    # iteration is ONE spark.sql: p_mix comes from a sum-window
    # PARTITION BY tok over the same rows the groupBy+join produced —
    # per-(source,tok) row set identical, DECIMAL sums order-free, so
    # lneg per source is bit-identical — and the join is gone (on a
    # tok-partitioned model the window needs no exchange either).
    # Weight literals round-trip exactly (shortest repr + correctly-
    # rounded parse); source names are SQL-escaped.
    spark = model.sparkSession

    def mix_loss(view: str, weights: dict[str, float]) -> dict[str, Decimal]:
        wmap = ", ".join(
            f"'{s.replace(chr(39), chr(39) * 2)}', {sql_double(weights[s])}"
            for s in sources
        )
        # fail-loud underflow guard: when every w_d·p_d(t) term rounds
        # to 0 on the 12-dp grid, p_mix(t) = 0 and ln(0) is NULL —
        # Spark's sum would SILENTLY drop the term (wrong excess) while
        # the DuckDB oracle's ln(0) poisons the cast and errors. Count
        # the underflows in the SAME per-source aggregate (no extra
        # job) and raise, so the documented 5e-13 scale bound fails
        # loudly on the engine side exactly like the oracle side.
        rows = spark.sql(
            "SELECT source, sum(CAST(round(p * round(ln(CAST(pm AS"
            " DOUBLE)), 6), 12) AS DECIMAL(38,12))) AS lneg,"
            " sum(CASE WHEN pm <= 0 THEN 1 ELSE 0 END) AS n_underflow"
            " FROM (SELECT source, p,"
            f" sum(CAST(round(map({wmap})[source] * p, 12)"
            " AS DECIMAL(38,12))) OVER (PARTITION BY tok) AS pm"
            f" FROM {view}) GROUP BY source"
        ).collect()
        n_bad = sum(int(r["n_underflow"] or 0) for r in rows)
        if n_bad:
            raise ValueError(
                f"doremi_trajectory: p_mix underflowed the 12-dp grid to 0 "
                f"for {n_bad} (source, tok) terms — ln(0) would silently "
                f"drop cross-entropy mass; rescale the corpus or coarsen "
                f"the vocab before re-weighting"
            )
        return {r["source"]: r["lneg"] for r in rows}

    with temp_view(model, "__doremi_model") as view:
        for _ in range(iters):
            lneg = mix_loss(view, w)
            u = {}
            for s in sources:
                ex = hneg[s] - lneg[s]  # exact DECIMAL: KL on the grid
                ex_f = float(max(ex, Decimal(0)))
                u[s] = _q12(w[s] * (1.0 + eta * ex_f))
            z = sum(u.values())  # exact DECIMAL sum — order-free
            w = {s: float(_q12(float(u[s]) / float(z))) for s in sources}

        final_lneg = mix_loss(view, w)
    excess = {
        s: max(hneg[s] - final_lneg[s], Decimal(0)) for s in sources
    }
    return w, excess, {s: -hneg[s] for s in sources}
