"""Training-data pipeline operators: deterministic sampling, PII
scrubbing, sequence packing, and weighted source mixing.

These are the operations a 100 TB pretraining-data pipeline layers on top
of dedup/quality (operators/dedup.py, operators/text.py).  Everything is
JVM built-ins — regexp/md5/window — with no Python in the hot path, and
every decision is DETERMINISTIC (hash-derived, no RNG), so runs are
reproducible, resumable, and oracle-checkable against an ANSI-SQL engine
— the same design rule as the LSH/SimHash family.

Scale notes:
  * sampling is a stateless per-row predicate on md5(id) — fully pushed
    into the scan stage, no shuffle, no driver involvement;
  * packing shuffles once on the shard key and runs one window cumsum
    per shard — shards bound both skew and the window's sort width;
  * mixing is a union of per-source sampled scans — no shuffle at all
    (the union is purely logical; AQE coalesces partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Redaction patterns — deliberately basic POSIX-class regexes that parse
# identically in Java (Spark) and an ANSI oracle: no lookarounds, no \d
# shorthand differences.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"
IPV4_RE = (
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
)


def sample_hash(col: F.Column, rate_pct: int, salt: str = "") -> F.Column:
    """Deterministic Bernoulli sampling predicate: keep iff the first
    byte of md5(salt || value) falls under rate_pct% of 0..255.

    The comparison is done lexicographically on the two lowercase hex
    chars (identical in any engine with md5) — no hex-parsing builtin
    needed.  rate_pct is quantized to 1/256 steps; the same (value,
    salt) always decides the same way, so reruns and late-arriving
    shards sample consistently."""
    if not 0 <= rate_pct <= 100:
        raise ValueError("rate_pct must be in [0, 100]")
    if rate_pct == 100:
        return F.lit(True)  # '100' would compare BELOW 'ff' lexicographically
    threshold = format(int(rate_pct * 256 / 100), "02x")
    digest = F.md5(F.concat(F.lit(salt), col.cast("string")))
    return F.substring(digest, 1, 2) < F.lit(threshold)


def deterministic_sample(
    df: DataFrame, id_col: str, rate_pct: int, salt: str = ""
) -> DataFrame:
    """Filter to a deterministic ~rate_pct% sample keyed on id_col."""
    return df.where(sample_hash(F.col(id_col), rate_pct, salt))


def scrub_pii(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Redact emails and IPv4 addresses from a text column
    (regexp_replace chain, one projection).  Adds `<out_col>` plus
    `n_redactions` (count of replaced spans) — the audit column a
    filtering pipeline logs per shard.  PHONE_RE is exported for callers
    who want a locale-aware phone pass (phone formats are ambiguous
    enough that a default-on global regex does more harm than good)."""
    out_col = out_col or f"{text_col}_scrubbed"
    c = F.col(text_col)
    n = (
        F.coalesce(F.regexp_count(c, F.lit(EMAIL_RE)), F.lit(0))
        + F.coalesce(F.regexp_count(c, F.lit(IPV4_RE)), F.lit(0))
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    return df.withColumn(out_col, scrubbed).withColumn(
        "n_redactions", n.cast("int")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    *,
    budget: int = 2048,
    n_shards: int = 256,
    shard_col: F.Column | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (sequence packing for
    training): documents are sharded deterministically, ordered by id
    within the shard, and cut into packs by cumulative token offset —
    pack_id = floor(cum_before / budget).

    Offset-based packing (vs greedy next-fit) is chosen because it is a
    pure window expression: one cumsum, no iterative state.  A document
    longer than `budget` still gets a pack (callers chunk oversized docs
    upstream).  Output adds (shard, pack_id, pack_offset).

    Scale shape: the per-shard cumsum is a segmented_running prefix sum
    — rows window within (shard, id-prefix) segments (numeric ids
    bucket by floor(id/2²⁰), other ids by a 4-char string prefix; both
    monotone in the id order) with broadcast per-segment offsets, so
    even a 16-shard layout never sorts a whole shard in one task;
    shards stay independent.

    ``shard_col`` overrides the default md5-derived shard (e.g.
    ``pmod(id, n)`` for integer ids, or an upstream partition key to
    keep packing aligned with storage layout)."""
    from creek_spark.operators.distributed import segmented_running

    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(n_shards),
        )
    ).cast("int")
    dt = dict(df.dtypes).get(id_col, "string")
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double"):
        seg = F.floor(F.col(id_col) / F.lit(1 << 20)).cast("bigint")
    else:
        seg = F.substring(F.col(id_col).cast("string"), 1, 4)
    out = segmented_running(
        df.withColumn("shard", shard),
        ["shard"],
        seg,
        [F.col(id_col)],
        {"_cum_incl": (F.col(len_col), "sum")},
    )
    cum_before = F.col("_cum_incl") - F.col(len_col)
    return (
        out.withColumn("pack_id", F.floor(cum_before / budget).cast("int"))
        .withColumn(
            "pack_offset", (cum_before - F.col("pack_id") * budget).cast("int")
        )
        .drop("_cum_incl", "_seg")
    )


def mix_sources(
    sources: dict[str, tuple[DataFrame, int]],
    id_col: str,
    *,
    salt: str = "mix",
) -> DataFrame:
    """Weighted mixture of document sources: each source is
    deterministically downsampled to its weight (percent) and tagged
    with a `source` column.  Columns are aligned by name (missing →
    null) so heterogeneous sources union cleanly.

    The standard pretraining-mixture op (e.g. 100% wiki + 30% web):
    weights > 100 raise — upsampling means literal duplication, which
    the caller should do explicitly (dedup would silently undo it)."""
    out = None
    for name, (df, weight) in sorted(sources.items()):
        if not 0 <= weight <= 100:
            raise ValueError(f"weight for {name!r} must be in [0, 100]")
        part = deterministic_sample(df, id_col, weight, salt=salt + name)
        part = part.withColumn("source", F.lit(name))
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    if out is None:
        raise ValueError("no sources given")
    return out


def split_assign(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, int],
    *,
    salt: str = "split",
) -> DataFrame:
    """Deterministic dataset splitting: adds a `split` column assigning
    each row to a named fraction (e.g. {"train": 98, "val": 1,
    "test": 1} in percent, summing to 100) by its md5 position — the
    same row always lands in the same split, across reruns and across
    machines, and train/test leakage cannot happen by re-shuffling.

    Quantized to 1/256 like sample_hash; fraction order is the sorted
    key order so the mapping is reproducible from the dict alone."""
    if sum(fractions.values()) != 100:
        raise ValueError("fractions must sum to 100")
    digest = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    first_byte = F.substring(digest, 1, 2)
    expr = None
    acc = 0
    names = sorted(fractions)
    for name in names:
        acc += fractions[name]
        threshold = format(int(acc * 256 / 100), "02x") if acc < 100 else "zz"
        cond = first_byte < F.lit(threshold)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # rounding can leave a sliver above the last threshold: assign it to
    # the largest fraction
    biggest = max(names, key=lambda n: fractions[n])
    return df.withColumn("split", expr.otherwise(F.lit(biggest)))


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    fractions: dict[str, int],
    *,
    salt: str = "split",
) -> DataFrame:
    """Cluster-aware dataset splitting: near-duplicate documents (the
    connected components of the candidate-pair graph) are assigned to the
    SAME split, so a train/test boundary can never separate two
    near-copies — the leakage mode plain row-hash splitting
    (``split_assign``) cannot prevent, and the reason eval suites look
    inflated after a naive split of a deduplicated-but-clustered corpus.

    Output: (``id_col``, cluster_rep, split) — one row per input
    document; ``cluster_rep`` is the smallest id in the document's
    duplicate cluster (the document's own id when it has no near-dups),
    and ``split`` is the md5-threshold assignment of the REP, shared by
    the whole cluster.

    Scale shape: components come from the checkpointed min-label
    propagation (dedup.connected_components — O(diameter) rounds, O(1)
    plan growth per round); the final join is corpus ⋈ components on the
    id — components is bounded by the number of *duplicated* docs, a
    small fraction of the corpus, and the split itself is a stateless
    per-row md5 predicate with no shuffle."""
    from creek_spark.operators.dedup import connected_components

    comp = connected_components(pairs).withColumnRenamed("doc", "_cc_doc")
    out = (
        docs.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("_cc_doc"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster_rep"),
        )
    )
    return split_assign(out, "cluster_rep", fractions, salt=salt)


def temperature_mix_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    *,
    budget: int,
    weight_scale: int = 1_000_000,
    salt: str = "mix",
) -> DataFrame:
    """Temperature-based mixture sampling (τ = 0.5): per-stratum quotas
    proportional to sqrt(stratum size), the standard rebalancing move for
    multilingual / multi-source pretraining mixes — large strata are
    downweighted, small strata over-represented relative to proportional
    sampling, without the duplication of full temperature upsampling.

    Quotas are computed in INTEGER arithmetic so two engines agree
    bit-for-bit: w_g = floor(sqrt(n_g) · weight_scale) (sqrt is IEEE
    correctly-rounded in both engines), quota_g = (budget · w_g) DIV Σw.
    Selection within a stratum is the md5-rank order (deterministic,
    engine-independent).

    Scale shape: the quota table is one tiny aggregate (|strata| rows,
    broadcast); ranking uses segmented_running — rows window within
    (stratum, md5-2-hex-prefix) segments with broadcast offsets — so no
    low-cardinality-partition sort ever materializes."""
    from creek_spark.operators.distributed import segmented_running

    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    weights = counts.withColumn(
        "_w",
        F.floor(
            F.sqrt(F.col("_n").cast("double")) * F.lit(float(weight_scale))
        ).cast("long"),
    )
    total = weights.agg(F.sum("_w").alias("_tw"))
    quotas = weights.crossJoin(F.broadcast(total)).select(
        stratum_col,
        F.expr(f"(CAST({budget} AS BIGINT) * _w) DIV _tw").alias("_quota"),
    )
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    base = segmented_running(
        df.withColumn("_skey", key),
        [stratum_col],
        F.substring(F.col("_skey"), 1, 2),
        [F.col("_skey"), F.col(id_col)],
        {"_srank": (F.lit(1), "rownum")},
    )
    return (
        base.join(F.broadcast(quotas), stratum_col)
        .where(F.col("_srank") <= F.col("_quota"))
        .drop("_srank", "_quota", "_skey", "_seg")
    )


def contamination_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    min_coverage: float = 0.2,
) -> DataFrame:
    """Benchmark-contamination detection: which corpus documents contain
    a meaningful fraction of an evaluation document's k-gram shingles.

    The standard pre-training hygiene pass — eval answers leaking into
    the training set inflate scores silently, so every corpus refresh
    runs exactly this check against the held-out suites.

    Output: (doc, bench_doc, n_overlap bigint, coverage double) with
    coverage = |corpus∩bench shingles| / |bench shingles| ≥
    ``min_coverage`` and self-pairs excluded.

    Scale shape: the corpus side is ONE scan + shingle explode (no
    self-join — unlike near-dup detection the pair space is
    corpus×bench, and bench is small by construction); the bench shingle
    set and its per-document sizes are broadcast, so the only shuffle is
    the per-(doc, bench_doc) count aggregation, bounded by actual
    shingle matches."""
    from creek_spark.operators.dedup import shingle_rows

    c_sh = shingle_rows(corpus, text_col, id_col, k)
    b_sh = shingle_rows(bench, text_col, id_col, k)
    b_sizes = b_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("_bsz"))
    b = F.broadcast(b_sh.select(F.col("doc").alias("bench_doc"), "shingle"))
    inter = (
        c_sh.join(b, "shingle")
        .where(F.col("doc") != F.col("bench_doc"))
        .groupBy("doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        inter.join(
            F.broadcast(b_sizes.select(F.col("doc").alias("bench_doc"), "_bsz")),
            "bench_doc",
        )
        .withColumn(
            "coverage",
            F.col("n_overlap").cast("double") / F.col("_bsz").cast("double"),
        )
        .where(F.col("coverage") >= F.lit(min_coverage))
        .select("doc", "bench_doc", "n_overlap", "coverage")
    )


def stratified_exact_sample(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    fraction: float,
    *,
    salt: str = "",
) -> DataFrame:
    """Exact-count stratified sample: EXACTLY ceil(fraction · n_g) rows
    from every group g, chosen by ranking on md5(salt ∥ id) — the
    balanced-dataset construction step (per-language / per-source quotas)
    where Bernoulli hash sampling (deterministic_sample) is not enough
    because small strata need their count guaranteed, not expected.

    Deterministic: the md5 order is a pure function of ids, so any two
    runs — or two engines — pick the same rows.

    Scale shape: strata are LOW-cardinality (languages × sources), so a
    plain per-stratum ranking window is a handful of single-task sorts
    over the corpus.  The rank instead comes from segmented_running —
    rows window within (stratum, md5-2-hex-prefix) segments (the prefix
    is monotone in the md5 sort order) with broadcast per-segment
    offsets — and the quota joins back from a tiny per-stratum count
    aggregate."""
    from creek_spark.operators.distributed import segmented_running

    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    counts = df.groupBy(*group_cols).agg(
        F.ceil(F.lit(fraction) * F.count(F.lit(1)).cast("double")).alias(
            "_quota"
        )
    )
    base = segmented_running(
        df.withColumn("_skey", key),
        group_cols,
        F.substring(F.col("_skey"), 1, 2),
        [F.col("_skey"), F.col(id_col)],
        {"_srank": (F.lit(1), "rownum")},
    )
    return (
        base.join(F.broadcast(counts), list(group_cols))
        .where(F.col("_srank") <= F.col("_quota"))
        .drop("_srank", "_quota", "_skey", "_seg")
    )


def token_budget_sample(
    df: DataFrame,
    *,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "source",
    salt: str = "",
) -> DataFrame:
    """Token-budget sampling: per stratum, keep documents in md5 order
    until the stratum's cumulative whitespace-token count would exceed
    ``budget`` — the "N tokens per source/language" mixture construction
    step (count-based quotas can't cap compute; token budgets do).

    A doc is kept iff the running total *including it* is ≤ budget, so
    the kept set is a deterministic prefix of the md5 order — two runs
    (or two engines) agree exactly.  Output:
        (id, stratum, n_tokens, cum_tokens), kept rows only.

    Scale: strata are LOW-cardinality, so the running sum is a
    segmented_running prefix sum — rows window within
    (stratum, md5-2-hex-prefix) segments (the prefix is monotone in the
    md5 sort order) with broadcast per-segment offsets; token counting
    is a JVM-side split/size — no Python, no second pass, no
    single-task per-stratum sort.
    """
    from creek_spark.functions.text import tokens

    from creek_spark.operators.distributed import segmented_running

    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col),
        F.col(stratum_col),
        F.size(tokens(text_col)).cast("bigint").alias("n_tokens"),
        key.alias("_skey"),
    )
    out = segmented_running(
        base,
        [stratum_col],
        F.substring(F.col("_skey"), 1, 2),
        [F.col("_skey"), F.col(id_col)],
        {"cum_tokens": (F.col("n_tokens"), "sum")},
        persist=True,  # the projection is tiny (no text) but tokenizing is not
    )
    return out.where(F.col("cum_tokens") <= F.lit(budget)).drop(
        "_skey", "_seg"
    )


def shard_assign(
    df: DataFrame, id_col: str, *, n_shards: int = 16, salt: str = ""
) -> DataFrame:
    """Deterministic shard id (0..n_shards-1) from the md5 hex prefix of
    the row id — the export-side "split the corpus into N stable shards"
    primitive (training-data writers want shard membership to be a pure
    function of the id, not of partitioning or row order, so re-exports
    and incremental appends land rows in the same shard).

    n_shards must be 16 or 256 (one or two hex chars — keeps the mapping
    expressible in ANSI SQL with no hex→int conversion builtin).  Adds a
    ``shard`` int column; purely map-side, no shuffle.
    """
    if n_shards not in (16, 256):
        raise ValueError("n_shards must be 16 or 256 (hex-prefix mapping)")
    digest = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    hexpos = lambda c: F.instr(F.lit("0123456789abcdef"), c) - F.lit(1)  # noqa: E731
    shard = hexpos(F.substring(digest, 1, 1))
    if n_shards == 256:
        shard = shard * F.lit(16) + hexpos(F.substring(digest, 2, 1))
    return df.withColumn("shard", shard.cast("int"))


def write_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    *,
    n_shards: int = 16,
    salt: str = "",
    format: str = "parquet",
) -> None:
    """Export the corpus as ``n_shards`` stable shards under
    ``path/shard=K/``: shard_assign + one hash repartition on the shard
    column (so each output directory is written by the tasks that own
    it, not appended by all of them) + partitionBy writer.

    At 100 TB: the repartition is the only exchange; within a shard the
    writer streams — no sort, no driver collect.  Readers get partition
    pruning on ``shard`` for free.
    """
    out = shard_assign(df, id_col, n_shards=n_shards, salt=salt)
    (
        out.repartition(n_shards, F.col("shard"))
        .write.format(format)
        .partitionBy("shard")
        .mode("overwrite")
        .save(path)
    )


def shard_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
    n_shards: int = 16,
    salt: str = "",
) -> DataFrame:
    """Per-shard manifest for a shard_assign export: row count, token
    count, distinct strata, id bounds — the balance check that catches a
    skewed shard before a trainer does.  One hash-agg shuffle on the
    16/256-row shard key."""
    from creek_spark.functions.text import tokens

    return (
        shard_assign(df, id_col, n_shards=n_shards, salt=salt)
        .select(
            "shard",
            F.col(id_col).alias("_id"),
            F.col(stratum_col).alias("_st"),
            F.size(tokens(text_col)).cast("bigint").alias("_nt"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.countDistinct("_st").cast("bigint").alias("n_strata"),
            F.min("_id").alias("min_id"),
            F.max("_id").alias("max_id"),
        )
    )


def stream_shard_writer(
    path: str,
    id_col: str,
    *,
    n_shards: int = 16,
    salt: str = "",
):
    """foreachBatch sink that grows a stable-shard corpus layout from a
    stream: every micro-batch lands under ``path/batch=<id>/shard=K/``.

    Replay-idempotent for GENUINE Spark replays — a restarted batch
    re-delivers identical rows, and the sink no-ops it (its
    ``batch=<id>`` directory already holds exactly those rows).  But
    "overwrites its own batch dir" is only safe against replays, not
    against a RESET/RELOCATED checkpoint recycling batch ids with NEW
    rows: an unfenced overwrite would silently REPLACE an earlier
    committed batch's shards (round-11 verdict finding).  So the sink
    keeps the same fence every other foreachBatch sink in this engine
    carries (``_fence.json``: last batch id + order-free content
    fingerprint, streaming/fence.py): an id below the fence raises, an
    id ON the fence no-ops only when the content fingerprint matches
    and refuses loudly otherwise, and the fence publish FOLLOWS the
    data write (a crash between them replays into the same directory,
    idempotent).

    Shard membership stays a pure function of the id
    (``shard_assign``), so a doc ingested in any batch lands in the
    same shard as a re-export would place it; readers use
    ``spark.read.option("basePath", path).parquet(path)`` and get
    pruning on both ``batch`` and ``shard`` (the underscore-prefixed
    fence file is invisible to the parquet reader).

    Usage: ``stream.writeStream.foreachBatch(stream_shard_writer(...))``.
    """
    from creek_spark import fsio

    fence_file = fsio.join(path, "_fence.json")

    def _write(df: DataFrame, batch_id: int) -> None:
        from creek_spark.streaming.fence import (
            content_fingerprint,
            fence_batch,
        )

        spark = df.sparkSession
        # first batch, or a pre-fence layout → None
        rec = fsio.read_json_or_none(spark, fence_file) or {}
        if fence_batch(
            df, rec.get("last_batch_id"), rec.get("fence_print"),
            batch_id=batch_id, sink="stream_shard_writer", state_path=path,
        ):
            return  # genuine replay: the batch dir already has it
        df = df.persist()  # fingerprint + shard write: one source pass
        try:
            fence_print = content_fingerprint(df)
            out = shard_assign(df, id_col, n_shards=n_shards, salt=salt)
            (
                out.repartition(n_shards, F.col("shard"))
                .write.partitionBy("shard")
                .mode("overwrite")
                .parquet(f"{path}/batch={batch_id}")
            )
        finally:
            df.unpersist()
        fsio.write_json_atomic(
            spark, fence_file,
            {"last_batch_id": batch_id, "fence_print": fence_print},
        )

    return _write
