"""Output checks. Each returns ``(problems, facts)``: a list of failed
checks (empty when the output is correct) and the figures the metrics need.
A run whose checks report any problem counts as failed."""

from __future__ import annotations

import hashlib

N_PARTS = 64  # run_extraction_job's default, which the benchmark uses
STAGES = ("extract", "assemble", "dedup_exact", "dedup_near", "decontaminate",
          "scrub", "mix", "pack")


def turn_name(conv_id: str, turn_idx: int) -> str:
    # pipeline.extract_turns names each turn "{conv_id}-{turn_idx:06d}"
    return f"{conv_id}-{turn_idx:06d}".replace(" ", "_")


def row_digest(text_md5: str, method: str | None, success: bool | None) -> str:
    return f"{text_md5}|{method}|{bool(success)}"


def oracle_digests(input_dir: str, mode: str) -> dict[tuple[str, int], str]:
    """Expected ``row_digest`` of every turn, from the repo's own local
    oracle ``pipeline.extract_one`` run in this process (no Spark)."""
    import pyarrow.parquet as pq

    from docling_gfcr_spark import pipeline

    t = pq.read_table(input_dir, columns=["conv_id", "turn_idx", "text", "tool"]).to_pydict()
    out = {}
    for c, i, text, tool in zip(t["conv_id"], t["turn_idx"], t["text"], t["tool"]):
        r = pipeline.extract_one(text, tool, turn_name(c, i), mode)
        text_md5 = hashlib.md5((r["extracted_text"] or "").encode("utf-8", "surrogatepass"))
        out[(c, int(i))] = row_digest(text_md5.hexdigest(), r["method"], r["success"])
    return out


def check_extract(spark, report: dict, out_dir: str, n_turns: int,
                  expected: dict) -> tuple[list[str], dict]:
    """Run report, lineage and committed rows of one ``run_extraction_job``;
    every committed row is compared with ``expected`` (``oracle_digests``)."""
    from pyspark.sql import functions as F

    from docling_gfcr_spark import lineage

    problems = []
    if report.get("resumed_parts_skipped") != []:
        problems.append(f"job resumed: skipped parts {report.get('resumed_parts_skipped')}")
    if report.get("parts_processed") != list(range(N_PARTS)):
        problems.append("not every part was processed")
    lin = lineage.read_lineage(spark, out_dir).collect()
    if len(lin) != N_PARTS or {r.part_id for r in lin} != set(range(N_PARTS)):
        problems.append(f"lineage holds {len(lin)} rows, expected one per part ({N_PARTS})")
    if any(r.status != "committed" for r in lin):
        problems.append("lineage has uncommitted rows")
    lin_turns = sum(r.n_turns for r in lin)
    if lin_turns != n_turns:
        problems.append(f"lineage n_turns sum {lin_turns} != input turns {n_turns}")
    got = lineage.read_extracted(spark, out_dir).select(
        "conv_id", "turn_idx", F.md5(F.coalesce("extracted_text", F.lit(""))).alias("h"),
        "method", "success",
    ).toPandas()
    if len(got) != n_turns:
        problems.append(f"committed rows {len(got)} != input turns {n_turns}")
    seen = set()
    bad = 0
    for c, i, h, m, s in got.itertuples(index=False):
        key = (c, int(i))
        if key in seen or expected.get(key) != row_digest(h, m, s):
            bad += 1
        seen.add(key)
    if bad or len(seen) != len(expected):
        problems.append(f"{bad} committed rows differ from the local oracle "
                        f"({len(expected) - len(seen & expected.keys())} missing)")
    errors = sum(r.errors for r in lin)
    return problems, {"error_turns": errors}


def check_corpus(spark, report: dict, out_dir: str, meta: dict) -> tuple[list[str], dict]:
    """Every stage ran and committed, stage counts chain as the plants
    predict, every planted duplicate and contaminated conversation is gone."""
    from pyspark.sql import functions as F

    from jobs import corpus_build as cb

    problems = []
    if report.get("stages_skipped_on_resume") != []:
        problems.append(f"job resumed: skipped {report.get('stages_skipped_on_resume')}")
    if list(report.get("stages_run", [])) != list(STAGES):
        problems.append(f"stages run {report.get('stages_run')} != {list(STAGES)}")
    lin = cb.read_stage_lineage(spark, out_dir)
    rows = [] if lin is None else lin.where(F.col("status") == "committed").collect()
    by_stage = {r.stage: r for r in rows}
    if sorted(by_stage) != sorted(STAGES) or len(rows) != len(STAGES):
        problems.append(f"stage lineage holds {sorted(by_stage)}")
    n_base = meta["n_conv"]
    n_exact, n_near = len(meta["exact_dups"]), len(meta["near_dups"])
    n_clean = n_base - len(meta["contaminated"])
    want = {
        "extract": meta["n_turns"], "assemble": n_base + n_exact + n_near,
        "dedup_exact": n_base + n_near, "dedup_near": n_base,
        "decontaminate": n_clean, "scrub": n_clean, "mix": n_clean, "pack": n_clean,
    }
    for s, n in want.items():
        got = by_stage[s].n_out if s in by_stage else None
        if got != n:
            problems.append(f"stage {s}: {got} rows, expected {n}")
    if report.get("packed_rows") != n_clean:
        problems.append(f"packed {report.get('packed_rows')} conversations, expected {n_clean}")

    def ids(stage):
        return {r.conv_id for r in spark.read.parquet(cb.stage_dir(out_dir, stage))
                .select("conv_id").collect()}

    exact_out, near_out, dec_out = ids("dedup_exact"), ids("dedup_near"), ids("decontaminate")
    for c in meta["exact_dups"]:
        if (c in exact_out) == (c.replace("conv-", "dup-") in exact_out):
            problems.append(f"exact duplicate pair of {c} not reduced to one")
            break
    for c in meta["near_dups"]:
        if (c in near_out) == (c.replace("conv-", "near-") in near_out):
            problems.append(f"near duplicate pair of {c} not reduced to one")
            break
    if dec_out & set(meta["contaminated"]):
        problems.append("contaminated conversations survived decontamination")
    from docling_gfcr_spark import lineage

    errors = lineage.read_lineage(spark, cb.stage_dir(out_dir, "extract")).agg(
        F.sum("errors")).first()[0]
    stage_rows = {s: (by_stage[s].n_out if s in by_stage else 0) for s in STAGES}
    committed_at = {s: by_stage[s].committed_at for s in by_stage}
    return problems, {"error_turns": int(errors or 0), "stage_rows": stage_rows,
                      "committed_at": committed_at}
