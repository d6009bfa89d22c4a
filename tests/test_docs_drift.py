"""Doc-drift guards — the r5/r6 verdicts both caught COVERAGE.md claiming a
weaker gate than a query actually has. Cheap asserts so it can't recur."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_md_has_no_stale_rows_only_markers():
    """Every registry query is hash-gated (sweep r6: zero rows-only), so no
    COVERAGE.md row may label one '(rows-only)'. The legend's generic
    mention is allowed; a per-query claim is drift."""
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    assert "(rows-only)" not in text


def test_gate_priority_resolves_and_is_50():
    """The driver's correctness gate = first 50 of GATE_PRIORITY; every
    name must be registered and the count pinned at exactly 50."""
    from flink_dts_connector_spark.plans.registry import GATE_PRIORITY, all_queries

    qs = all_queries()  # raises if a GATE_PRIORITY name is unregistered
    assert len(GATE_PRIORITY) == 50
    assert len(set(GATE_PRIORITY)) == 50
    assert list(qs)[:50] == list(GATE_PRIORITY)


def test_doc_backtick_paths_exist():
    """Every backtick-quoted repo path in COVERAGE.md / SCALING.md must
    resolve to a real file (r7 verdict caught `test_sketch_properties.py`
    citing a renamed test). Resolution: repo-root relative, package
    relative, or basename-anywhere for bare names; runtime-generated bench
    artifacts are allowed by pattern."""
    pkg = os.path.join(REPO, "flink_dts_connector_spark")
    basenames = set()
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [
            d
            for d in dirs
            if d not in {".git", "__pycache__", "spark-warehouse", ".pytest_cache"}
        ]
        basenames.update(files)
    generated = re.compile(
        r"^(BENCH|CORRECTNESS|SWEEP|PLAN_AUDIT|SHUFFLE_LINEARITY)[A-Za-z0-9_.]*\.json$"
        r"|^_layout_meta\.json$"  # runtime sidecar written by formats/layout.py
    )
    missing = []
    for doc in ("COVERAGE.md", "SCALING.md"):
        text = open(os.path.join(REPO, doc)).read()
        for m in re.finditer(r"`([^`\n]+)`", text):
            span = m.group(1)
            pm = re.match(
                r"([A-Za-z0-9_][A-Za-z0-9_./-]*\.(?:py|md|json|sh|txt|yaml|toml))(?::|$)",
                span,
            )
            if not pm:
                continue
            p = pm.group(1)
            if (
                os.path.exists(os.path.join(REPO, p))
                or os.path.exists(os.path.join(pkg, p))
                or ("/" not in p and os.path.basename(p) in basenames)
                or generated.match(os.path.basename(p))
            ):
                continue
            missing.append(f"{doc}: `{span}`")
    assert not missing, "doc citations point at nonexistent files:\n" + "\n".join(missing)


def _artifact_green_sets():
    """Per-SF sets of query names hash-green in a COMMITTED artifact
    (SWEEP_*/CORRECTNESS_* json at the repo root)."""
    import glob
    import json

    green = {"0.01": set(), "0.1": set(), "1": set()}
    paths = glob.glob(os.path.join(REPO, "SWEEP_*.json")) + glob.glob(
        os.path.join(REPO, "CORRECTNESS_*.json")
    )
    for path in paths:
        with open(path) as fh:
            d = json.load(fh)
        base = os.path.basename(path)
        sf_dir = d.get("sf_dir", "")
        if "sf1" in base or sf_dir.rstrip("/").endswith(("sf1", "sf1_data")):
            sf = "1"
        elif "sf0.01" in base or "sf0.01" in sf_dir:
            sf = "0.01"
        elif "sf0.1" in base or "sf0.1" in sf_dir:
            sf = "0.1"
        else:
            sf = "0.01"  # CORRECTNESS_* = the driver gate, always sf0.01
        rows = d.get("queries") or d.get("results") or d
        for n, r in rows.items():
            if isinstance(r, dict) and r.get("hash_match"):
                green[sf].add(n)
    return green


def test_coverage_hash_green_claims_have_committed_artifacts():
    """r10 verdict: `text_rake_keywords` claimed 'hash-green 4 SFs' with NO
    checked-in sweep artifact (the evidence lived only in a commit message).
    Structural fix: every COVERAGE.md line claiming 'hash-green' must be
    backed by a committed SWEEP_*/CORRECTNESS_* artifact for EVERY registered
    query name the line mentions — at sf0.01 and sf0.1 always, and at sf1
    when the line claims it ('incl. sf1', '4 SFs', or 'all SFs'). sf0.001 is
    the pytest harness (tests/test_oracle_parity.py), not an artifact."""
    from flink_dts_connector_spark.plans.registry import all_queries

    names = sorted(all_queries(), key=len, reverse=True)
    pattern = re.compile(r"\b(" + "|".join(map(re.escape, names)) + r")\b")
    green = _artifact_green_sets()
    problems = []
    for ln, line in enumerate(
        open(os.path.join(REPO, "COVERAGE.md")).read().splitlines(), 1
    ):
        if "hash-green" not in line and "hash green" not in line:
            continue
        mentioned = set(pattern.findall(line))
        wants_sf1 = bool(re.search(r"incl\. sf1|4 SFs|all SFs", line))
        for n in sorted(mentioned):
            need = ["0.01", "0.1"] + (["1"] if wants_sf1 else [])
            for sf in need:
                if n not in green[sf]:
                    problems.append(f"COVERAGE.md:{ln}: {n} not green at sf{sf} in any committed artifact")
    assert not problems, "\n".join(problems)


def test_bench_headline_names_are_registered():
    """bench.py silently skips unknown names (`if n in queries`); assert
    they all resolve so a rename can't quietly shrink the headline set."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from flink_dts_connector_spark.plans.registry import all_queries

    qs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench HEADLINE names not registered: {missing}"


def test_readme_codec_paragraph_matches_codec_inventory():
    """The README "Known divergences" codec paragraph is derived from the
    module's machine-readable inventory (r8 verdict: GIF87a became real but
    the paragraph still listed three codecs). Every REAL codec name must
    appear in the paragraph, every STUBBED name must appear in its stub
    clause, and no stubbed codec may be claimed real."""
    from flink_dts_connector_spark.operators.multimodal import (
        CONTAINER_CODECS,
        REAL_CODECS,
        STUBBED_CODECS,
    )

    text = open(os.path.join(REPO, "README.md")).read()
    m = re.search(r"- Media codecs:(.*?)(?=\n- )", text, re.S)
    assert m, "README 'Media codecs' divergence bullet missing"
    para = m.group(1)
    real_part, _, cont_part = para.partition("CONTAINER-REAL")
    assert cont_part, "paragraph lost its 'CONTAINER-REAL' clause"
    cont_clause, _, stub_part = cont_part.partition("remain stubbed")
    assert stub_part, "paragraph lost its 'remain stubbed' payload clause"
    for codec in REAL_CODECS:
        assert re.search(codec, real_part, re.I), f"real codec {codec!r} not claimed"
    for codec in CONTAINER_CODECS:
        # container codecs: disclosed in the container clause, and never
        # claimed in the sample-exact decoder clause (before its own
        # "mp3/mp4 are" subject list)
        assert re.search(codec, cont_clause, re.I) or re.search(
            codec, real_part.rsplit(";", 1)[-1], re.I
        ), f"container codec {codec!r} undisclosed"
        real_clause = real_part.rsplit(";", 1)[0]
        assert not re.search(codec, real_clause, re.I), f"{codec!r} claimed sample-exact"
    for codec in STUBBED_CODECS:
        assert re.search(codec, para, re.I), f"stub codec {codec!r} undisclosed"
        real_clause = real_part.rsplit(";", 1)[0]
        assert not re.search(codec, real_clause, re.I), f"{codec!r} claimed real"


def test_bounded_runs_go_through_run_available_now():
    """Every bounded streaming run in the package goes through
    `streaming/runner.py:run_available_now` (one place that sets the
    trigger and keeps the run's progress), so no other module calls
    ``.trigger(availableNow=True)`` or ``.awaitTermination(``. Comments and
    docstrings may mention either. The one exception is the group-resume
    phase 1, which runs under ``processingTime`` with a drained-count stop
    because a rate-capped ``availableNow`` run ends after one batch."""
    import ast

    pkg = os.path.join(REPO, "flink_dts_connector_spark")
    allowed = {("plans/streaming_queries.py", "_group_resume_phase_dirs")}
    found = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), pkg).replace(os.sep, "/")
            if rel == "streaming/runner.py":
                continue
            tree = ast.parse(open(os.path.join(root, f)).read())
            # (top-level function, node) for every node, so a call inside a
            # nested closure is charged to the function that defines it
            owned = [
                (top.name if isinstance(top, ast.FunctionDef) else "<module>", node)
                for top in tree.body
                for node in ast.walk(top)
            ]
            for owner, node in owned:
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                attr = node.func.attr
                bounded = attr == "trigger" and any(k.arg == "availableNow" for k in node.keywords)
                if (bounded or attr == "awaitTermination") and (rel, owner) not in allowed:
                    found.append(f"{rel}:{node.lineno} ({owner}) .{attr}(")
    assert not found, "hand-rolled bounded runs; use run_available_now:\n" + "\n".join(found)
