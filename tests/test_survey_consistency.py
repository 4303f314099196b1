"""Anti-vaporware guards: every query name the docs claim must exist
in the driver contract, and every registered query must have both a
callable and (unless explicitly rows-only) an oracle."""

from __future__ import annotations

import re
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parent.parent

# queries with no SQL-expressible oracle (driver records rows-only);
# empty since r5: even the ANN queries are deterministic (md5 planes /
# lowest-id centroids) and carry full DuckDB oracles
ROWS_ONLY: set[str] = set()


def test_survey_2_12_query_names_exist():
    text = (REPO / "SURVEY.md").read_text()
    qs = set(entry.queries())
    # table rows cite suite queries in backticks in the last column
    sec = text.split("### 2.12")[1].split("## 3.")[0]
    cited = set()
    for cell in re.findall(r"\| `([a-z0-9_,` ]+)` \|", sec):
        for name in re.split(r"[,` ]+", cell):
            if name:
                cited.add(name)
    def satisfied(c: str) -> bool:
        # SC6 cites TPC-H queries by short prefix (q1, q21, ...)
        return c in qs or c.endswith("*") or any(
            q.startswith(c + "_") for q in qs
        )

    missing = {c for c in cited if not satisfied(c)}
    assert not missing, f"SURVEY.md cites nonexistent queries: {sorted(missing)}"


def test_every_query_is_cited_in_survey_section_2():
    # the REVERSE direction of the anti-vaporware guard: §2 is the
    # coverage contract, so an operator landing with a suite query but
    # no SURVEY row is invisible staleness (caught the round-8
    # `dup_span_merge` gap). Citation forms allowed: exact backticked
    # name, TPC-H short prefix (`q14` covers q14_promo_revenue), and
    # star glob (`multimodal_*`).
    text = (REPO / "SURVEY.md").read_text()
    sec = text.split("## 2. Operator inventory")[1].split("\n## 3.")[0]
    cited = set()
    for span in re.findall(r"`([a-z0-9_,]+)`", sec):
        cited.update(n for n in span.split(",") if n)
    globs = {g[:-1] for g in re.findall(r"`([a-z0-9_]+\*)`", sec)}

    def covered(q: str) -> bool:
        if q in cited:
            return True
        if any(q.startswith(g) for g in globs):
            return True
        # short-prefix cites: `q14` covers `q14_promo_revenue`
        return any(q.startswith(c + "_") for c in cited)

    missing = sorted(q for q in entry.queries() if not covered(q))
    assert not missing, (
        f"{len(missing)} registered queries have no SURVEY §2 citation: "
        f"{missing}"
    )


def test_survey_2_13_coverage_map_names_exist():
    text = (REPO / "SURVEY.md").read_text()
    qs = set(entry.queries())
    sec = text.split("### 2.13")[1].split("## 3.")[0]
    known_non_queries = {
        "__spark_entry__",  # contract module
        "lower",  # function mention
        "posix_join",
    }
    missing = set()
    for name in re.findall(r"`([a-z0-9_]+)`", sec):
        if name in known_non_queries or name.startswith(("tests", "test_")):
            continue
        if name not in qs and not any(q.startswith(name + "_") for q in qs):
            missing.add(name)
    assert not missing, f"SURVEY §2.13 cites nonexistent queries: {sorted(missing)}"


def test_readme_query_mentions_exist():
    text = (REPO / "README.md").read_text()
    qs = set(entry.queries())
    for name in re.findall(r"`([a-z0-9_]+)`", text):
        if name.startswith(("q1_", "q3_", "dedup_", "doc_", "events_", "ann_")):
            assert name in qs, f"README cites nonexistent query {name}"


def test_every_query_has_oracle_or_declared_rows_only():
    qs = set(entry.queries())
    oracles = set(entry.oracle_sql())
    assert oracles <= qs
    assert qs - oracles == ROWS_ONLY


def test_module_docstring_layout_lists_only_real_modules():
    import importlib

    import isilon_hadoop_tools_spark as pkg

    for mod in re.findall(r"^- ``(\w+)``", pkg.__doc__, re.M):
        importlib.import_module(f"isilon_hadoop_tools_spark.{mod}")


def test_driver_window_covers_all_unverified_queries():
    # the driver checks ~the first 50 registration-order queries; every
    # query without a green driver row (new, red, or never-checked)
    # must sort inside that window or it can never earn one
    from isilon_hadoop_tools_spark.suite import _shared

    names = list(entry.queries())
    last = _shared._driver_last_green()
    weak = [n for n in names if n not in last]
    outside = [n for n in weak if names.index(n) >= 50]
    assert not outside, (
        f"{len(outside)} never/least-verified queries fall outside the "
        f"50-query gate window: {outside[:5]}"
    )


def test_driver_window_rotates_round_robin():
    # regression cover: the gate ordering must put least-recently-green
    # queries first, so each round's ~50-query window is the complement
    # of the previous rounds' — no query goes unmonitored > ceil(n/50)
    # rounds
    import json

    from isilon_hadoop_tools_spark.suite import _shared

    last = _shared._driver_last_green()
    if not last:
        import pytest

        pytest.skip("no CORRECTNESS files in this checkout")
    names = list(entry.queries())
    rounds = [last.get(n, -1) for n in names]
    assert rounds == sorted(rounds), "ordering is not least-recent-first"
    # the most recent round's green rows must all sort AFTER any query
    # lacking a green row from that round
    latest = max(last.values())
    files = sorted((REPO).glob("CORRECTNESS_r*.json"))
    latest_checked = set(json.loads(files[-1].read_text()))
    window = set(names[:50])
    stale = [n for n in names if last.get(n, -1) < latest]
    if len(stale) >= 40:
        assert len(window - latest_checked) >= 40, (
            "next driver window re-checks mostly already-fresh queries"
        )


def test_gate_freshness_within_rotation_guarantee():
    """Every registered query's latest driver-green round must be
    within the rotation guarantee (current − 5): with ~50 checks per
    round over the least-recently-verified ordering, an older green
    means the driver window silently skipped a query — which should
    fail HERE, locally, instead of surviving as a stale green. New
    queries with no driver row are exempt (they sort to the window's
    front)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import check as checkmod

    stale = checkmod.gate_freshness_stale()
    assert stale == [], (
        "driver-green rows older than the rotation guarantee: "
        f"{stale} — the driver window missed these; investigate "
        "suite._shared._ordered_names ordering"
    )


def test_registration_order_is_fully_canonical():
    """Every registered query must appear in _CANONICAL_ORDER (the
    split package's explicit registration order): a query added to a
    family module without the canonical-list append would silently
    register after the canonical block, changing the driver window's
    fallback tie-break — fail loudly here instead."""
    from isilon_hadoop_tools_spark import suite
    from isilon_hadoop_tools_spark.suite._shared import _CANONICAL_ORDER

    assert list(suite.REGISTRY) == list(_CANONICAL_ORDER)


def test_no_module_keeps_unused_imports():
    # an unused import under a block-wide noqa is invisible to linters,
    # so copied import blocks grow unseen; this check needs no linter.
    # Package __init__ modules re-export by design and are exempt.
    import ast

    pkg = REPO / "isilon_hadoop_tools_spark"
    unused = {}
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        bound = {
            alias.asname or alias.name.split(".")[0]: node.lineno
            for node in tree.body
            if isinstance(node, (ast.Import, ast.ImportFrom))
            and getattr(node, "module", None) != "__future__"
            for alias in node.names
            if alias.name != "*"
        }
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        names = [f"{n} (line {ln})" for n, ln in bound.items() if n not in used]
        if names:
            unused[str(path.relative_to(REPO))] = names
    assert not unused, f"module-level imports never referenced: {unused}"


# Public package definitions that no query, tool, workload or entry
# point reaches, each kept on purpose.
KEPT_UNREACHED = {
    "snapshot_gc": "fault recovery: collects a crashed writer's orphans (SURVEY SC10k)",
    "set_commit_backend": "selects the HDFS commit protocol (SURVEY SC10l)",
    "snapshot_history": "the history read the snapshot tests check commits with",
    "supported_features": "port of the reference's OneFS feature gate (F13)",
    "revision_at_least": "port of the reference's OneFS revision gate (F14)",
    "license_status": "port of the reference's OneFS license read (S6)",
    "licenses_df": "port of the reference's OneFS license listing (S6)",
    "UndecodableErrorBody": "port of the reference's error taxonomy (onefs.py:244-250)",
    "oriented_wedges": "the hub-graph audit pins it",
    "dedup_within_watermark": "the dedup_wm shape of the restart matrix the fast gate runs",
}


def _reached_names(tree, skip_imports: bool) -> set:
    # Names, attributes and imported names of a module, except each
    # definition's mentions of itself; docstrings and ``__all__``
    # strings are constants, so they never count.
    import ast

    out = set()
    for top in tree.body:
        if skip_imports and isinstance(top, (ast.Import, ast.ImportFrom)):
            continue
        names = set()
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                names.update(a.name for a in node.names)
        names.discard(getattr(top, "name", None))
        out |= names
    return out


def test_every_public_definition_is_reached():
    # A public top-level definition of the package must be reached
    # from the package, tools/, perfbench/ (not its tests), bench.py or
    # __spark_entry__.py; tests alone do not keep code alive. Package
    # __init__ re-exports do not count as reaches; @query functions
    # and the pyproject console scripts are entry points themselves.
    import ast
    import tomllib

    pyproject = tomllib.loads((REPO / "pyproject.toml").read_text())
    scripts = {v.split(":")[1] for v in pyproject["project"]["scripts"].values()}

    def is_query(node) -> bool:
        for d in node.decorator_list:
            f = d.func if isinstance(d, ast.Call) else d
            if getattr(f, "id", getattr(f, "attr", None)) == "query":
                return True
        return False

    pkg = REPO / "isilon_hadoop_tools_spark"
    defs, reached = {}, set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        reached |= _reached_names(tree, skip_imports=path.name == "__init__.py")
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not is_query(node)
                and node.name not in scripts
            ):
                defs[node.name] = f"{path.relative_to(REPO)}:{node.lineno}"
    entry_points = [
        *sorted((REPO / "tools").glob("*.py")),
        *(p for p in sorted((REPO / "perfbench").glob("*.py"))
          if not p.name.startswith("test_")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    for path in entry_points:
        reached |= _reached_names(ast.parse(path.read_text()), skip_imports=False)
    unreached = {
        name: where for name, where in defs.items()
        if name not in reached and name not in KEPT_UNREACHED
    }
    assert not unreached, f"definitions only tests reach, or none: {unreached}"
    stale = sorted(n for n in KEPT_UNREACHED if n not in defs or n in reached)
    assert not stale, f"KEPT_UNREACHED names now gone or reached: {stale}"


def test_engine_modules_build_driver_frames_through_local_df():
    # createDataFrame over Python rows plans as a Scan ExistingRDD that
    # round-trips Python workers on every job; sources.local.local_df
    # ships the same rows through Arrow as a LocalTableScan.
    import ast

    pkg = REPO / "isilon_hadoop_tools_spark"
    calls = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for sub in ("operators", "streaming", "suite")
        for path in sorted((pkg / sub).rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert not calls, f"createDataFrame calls, use local_df: {calls}"


def test_codec_stages_share_one_map_in_pandas():
    # multimodal.py's decoders and hashes run through _per_payload, and
    # the suite's encoded payload fixtures through _encoded_payload_df:
    # a second mapInPandas call in either is a copied stage runner.
    import ast

    pkg = REPO / "isilon_hadoop_tools_spark"

    def calls(paths):
        return [
            f"{path.relative_to(REPO)}:{node.lineno}"
            for path in paths
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInPandas"
        ]

    for paths in ([pkg / "multimodal.py"], sorted((pkg / "suite").rglob("*.py"))):
        found = calls(paths)
        assert len(found) == 1, f"mapInPandas calls, want exactly one: {found}"


def test_survey_2_12_row_ids_unique():
    # r12 VERDICT: the §2.12 table used `L16g` for two different rows
    # (JPEG codec + audio fingerprint); the row id is how rounds refer
    # to operators, so duplicates make the ledger ambiguous.
    text = (REPO / "SURVEY.md").read_text()
    sec = text.split("### 2.12")[1].split("## 3.")[0]
    ids = re.findall(r"^\| ([A-Z][A-Za-z0-9]*) \|", sec, re.M)
    dupes = {i for i in ids if ids.count(i) > 1}
    assert not dupes, f"duplicate SURVEY §2.12 row ids: {sorted(dupes)}"
