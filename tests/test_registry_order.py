"""Adaptive registration order (the driver-correctness-window gate): the
driver checks the FIRST N entries of queries(), so ordering decides which
queries accumulate driver-green rows each round."""

import json
import os
import subprocess
import sys

from mapreduce_machine_learning_spark import registry


def test_contract_ids_all_registered():
    qs = registry.all_queries()
    missing = [c for c in registry.CONTRACT_QUERIES if c not in qs]
    assert not missing, missing
    assert len(registry.CONTRACT_QUERIES) == 68  # SURVEY §2 inventory


def test_never_green_contract_queries_lead():
    """Every contract query without a past driver-green row must precede
    every extension query and every already-green query."""
    names = list(registry.all_queries())
    done = registry._driver_done_queries()
    contract = set(registry.CONTRACT_QUERIES)
    pending_contract = [n for n in names if n in contract and n not in done]
    if pending_contract:
        last_pending = max(names.index(n) for n in pending_contract)
        assert last_pending == len(pending_contract) - 1, (
            "a non-contract or already-green query interleaves the "
            "pending contract block"
        )


def test_done_queries_sink_behind_pending():
    names = list(registry.all_queries())
    done = registry._driver_done_queries()
    if not done:
        return
    first_done = min(names.index(n) for n in names if n in done)
    pending = [n for n in names if n not in done]
    if pending:
        last_pending = max(names.index(n) for n in pending)
        assert first_done > last_pending


def test_priority_extensions_follow_pending_contract():
    """Never-green EXTENSION_PRIORITY queries must come right after the
    pending-contract block and before any other never-green extension —
    the flagship ANN/LLM family earns driver rows before the generic tail
    (VERDICT round 2, "Next round" #2)."""
    names = list(registry.all_queries())
    done = registry._driver_done_queries()
    contract = set(registry.CONTRACT_QUERIES)
    pending_contract = [n for n in names if n in contract and n not in done]
    pending_priority = [
        n for n in registry.EXTENSION_PRIORITY if n not in done
    ]
    # priority ids must exist (typo guard) and not overlap the contract
    assert all(n in names for n in registry.EXTENSION_PRIORITY)
    assert not contract & set(registry.EXTENSION_PRIORITY)
    if pending_priority:
        start = len(pending_contract)
        block = names[start : start + len(pending_priority)]
        assert block == pending_priority


def test_done_is_latest_round_status():
    """A later red row must evict a query from the done set so regressions
    rotate back into the driver window (ADVICE round 2)."""
    r1 = {
        "q_a": {"hash_match": True, "err": None, "spark_rows": 5},
        "q_b": {"hash_match": True, "err": None, "spark_rows": 5},
        "q_c": {"hash_match": False, "err": "boom", "spark_rows": None},
    }
    r2 = {
        "q_b": {"hash_match": False, "err": None, "spark_rows": 5},  # regressed
        "q_c": {"hash_match": True, "err": None, "spark_rows": 5},  # fixed
        "q_d": {"err": "no_oracle", "spark_rows": 3},  # rows-only green
    }
    assert registry._done_from_reports([r1, r2]) == {"q_a", "q_c", "q_d"}


def test_report_round_sort_is_numeric():
    """Report files must apply in NUMERIC round order: lexicographic sort
    puts r100 before r99 (and r10 before r9 when padding is mixed), which
    would let a stale round's status override the latest one (ADVICE
    round 3)."""
    files = [
        "CORRECTNESS_r100.json",
        "CORRECTNESS_r99.json",
        "CORRECTNESS_r3.json",
        "CORRECTNESS_r02.json",
        "CORRECTNESS_r10.json",
    ]
    assert sorted(files, key=registry._report_round) == [
        "CORRECTNESS_r02.json",
        "CORRECTNESS_r3.json",
        "CORRECTNESS_r10.json",
        "CORRECTNESS_r99.json",
        "CORRECTNESS_r100.json",
    ]
    # sanity: lexicographic order really is wrong for this set
    assert sorted(files) != sorted(files, key=registry._report_round)
    assert registry._report_round("weird.json") == -1


def test_report_sort_key_breaks_round_ties_deterministically():
    """Same-round files (r1 vs r01, or malformed names all mapping to −1)
    must sort by basename, not by glob()'s filesystem enumeration order —
    otherwise which report wins latest-round-wins is machine-dependent."""
    ties = ["CORRECTNESS_r1.json", "CORRECTNESS_r01.json"]
    assert sorted(ties, key=registry._report_sort_key) == sorted(
        reversed(ties), key=registry._report_sort_key
    )
    assert sorted(ties, key=registry._report_sort_key) == [
        "CORRECTNESS_r01.json",
        "CORRECTNESS_r1.json",
    ]
    weird = ["zzz.json", "aaa.json"]
    assert sorted(weird, key=registry._report_sort_key) == [
        "aaa.json",
        "zzz.json",
    ]


def test_slack_fill_order_is_flagships_then_rotation():
    """Once pending < the 50-entry driver window (round 7), the ordering
    auto-fills the slack with ALREADY-GREEN queries. The recheck cadence is
    deliberate: the RECHECK_PRIORITY flagships (bench headline set +
    LLM-pipeline operators) re-verify EVERY round, then the rest rotates
    least-recently-rechecked first (recheck-era rounds only, see
    RECHECK_ERA_START), contract-before-extension within equal recency
    (ADVICE round 8: the old static all-contract-before-any-extension
    assertion breaks by design the moment a recheck-era CORRECTNESS report
    lands, because rechecked contract queries rotate behind never-rechecked
    extensions)."""
    names = list(registry.all_queries())
    done = registry._driver_done_queries()
    last = registry._driver_last_recheck()
    done_block = [n for n in names if n in done]
    contract = set(registry.CONTRACT_QUERIES)
    recheck = set(registry.RECHECK_PRIORITY)
    done_recheck = [n for n in registry.RECHECK_PRIORITY if n in done]
    # the done block always leads with the green flagships, in recheck order
    assert done_block[: len(done_recheck)] == done_recheck
    tail = done_block[len(done_recheck) :]
    # flagships never hide in the rotating tail
    assert not [n for n in tail if n in recheck]
    # the rotating tail is least-recently-rechecked first …
    recencies = [last.get(n, 0) for n in tail]
    assert recencies == sorted(recencies)
    # … and within each equal-recency run, contract queries precede
    # extensions, each sub-block in its canonical order
    contract_rank = {n: i for i, n in enumerate(registry.CONTRACT_QUERIES)}
    reg_rank = {n: i for i, n in enumerate(registry._QUERIES)}
    for rec in sorted(set(recencies)):
        run = [n for n in tail if last.get(n, 0) == rec]
        c_run = [n for n in run if n in contract]
        assert run[: len(c_run)] == c_run
        assert c_run == sorted(c_run, key=contract_rank.__getitem__)
        x_run = run[len(c_run) :]
        assert x_run == sorted(x_run, key=reg_rank.__getitem__)
    # pre-rotation degenerate case (no recheck-era report on disk): the
    # rotation order collapses to the original static slack-fill order —
    # all green contract queries in §2 order before any green extension
    if not last:
        done_contract = [
            n
            for n in registry.CONTRACT_QUERIES
            if n in done and n not in recheck
        ]
        assert tail[: len(done_contract)] == done_contract


def test_recheck_priority_names_registered_queries():
    """Every RECHECK_PRIORITY entry must be a registered query — a typo or
    a renamed flagship would silently drop it from the recheck rotation."""
    qs = set(registry.all_queries())
    missing = [n for n in registry.RECHECK_PRIORITY if n not in qs]
    assert not missing, missing


def test_order_is_deterministic():
    assert list(registry.all_queries()) == list(registry.all_queries())


def test_oracles_subset_of_queries():
    qs = registry.all_queries()
    os_ = registry.all_oracles()
    assert set(os_) <= set(qs)
    # exactly the two sanctioned rows-only queries lack oracles
    assert set(qs) - set(os_) == {
        "q_agg_approx",
        "q_agg_approx_percentile",
    }


def test_round7_window_forecast_matches_readme():
    """README's driver-window forecast (round 6) is a checkable claim, not
    prose: simulate CORRECTNESS_r06 going all-green for the current
    round-6 window, replay the ordering, and the next 50-slot window must
    be the remaining never-green tail followed by the first
    RECHECK_PRIORITY flagships. If the registry or the green set changes,
    this fails before the README silently lies."""
    import json
    import os

    registry.all_queries()  # populate the raw registration dict
    names_reg = list(registry._QUERIES)

    contract_rank = {n: i for i, n in enumerate(registry.CONTRACT_QUERIES)}
    priority_rank = {n: i for i, n in enumerate(registry.EXTENSION_PRIORITY)}
    recheck_rank = {n: i for i, n in enumerate(registry.RECHECK_PRIORITY)}
    reg_rank = {n: i for i, n in enumerate(names_reg)}

    def window(done, n=50):
        def key(name):
            if name not in done:
                if name in contract_rank:
                    return (0, contract_rank[name])
                if name in priority_rank:
                    return (1, priority_rank[name])
                return (2, reg_rank[name])
            if name in recheck_rank:
                return (3, recheck_rank[name])
            if name in contract_rank:
                return (4, contract_rank[name])
            return (5, reg_rank[name])

        return sorted(names_reg, key=key)[:n]

    # green set as of the r01-r05 reports SPECIFICALLY (not the live glob):
    # the forecast is anchored to the round-6 state, and must keep passing
    # unchanged after the driver writes CORRECTNESS_r06
    reports = []
    for i in range(1, 6):
        path = f"CORRECTNESS_r0{i}.json"
        if os.path.exists(path):
            with open(path) as fh:
                reports.append(json.load(fh))
    green = registry._done_from_reports(reports)

    w6 = [n for n in window(green) if n not in green]
    assert len(w6) == 50
    assert w6[0] == "q_ml_learning_curve" and w6[-1] == "q_sketch_quantile_hist"

    g7 = green | set(w6)
    w7 = window(g7)
    never = [n for n in w7 if n not in g7]
    rechecks = [n for n in w7 if n in g7]
    assert len(never) == 48
    assert never[0] == "q_sketch_kmv_setops"
    assert never[-1] == "q_topk_withties"
    assert rechecks == ["q_agg_group", "q_join_multi"]


def test_round8_window_forecast_matches_readme():
    """Round-8 forecast (VERDICT r6 #7), pre-committed like round 7's:
    with the round-7 window landed (cumulative 347/347 green), the
    round-8 driver window is rechecks-only — the 18 RECHECK_PRIORITY
    flagships in recheck order, then the first 32 remaining contract
    queries in SURVEY §2 table order (`q_scan_stats .. q_stream_latedata`).
    Anchored to the full registry, so it keeps passing unchanged after
    the driver writes CORRECTNESS_r07."""
    registry.all_queries()
    names_reg = list(registry._QUERIES)
    contract_rank = {n: i for i, n in enumerate(registry.CONTRACT_QUERIES)}
    priority_rank = {n: i for i, n in enumerate(registry.EXTENSION_PRIORITY)}
    recheck_rank = {n: i for i, n in enumerate(registry.RECHECK_PRIORITY)}
    reg_rank = {n: i for i, n in enumerate(names_reg)}

    def key(name, done):
        if name not in done:
            if name in contract_rank:
                return (0, contract_rank[name])
            if name in priority_rank:
                return (1, priority_rank[name])
            return (2, reg_rank[name])
        if name in recheck_rank:
            return (3, recheck_rank[name])
        if name in contract_rank:
            return (4, contract_rank[name])
        return (5, reg_rank[name])

    g8 = set(names_reg)  # round 7 drains the tail: everything green
    w8 = sorted(names_reg, key=lambda n: key(n, g8))[:50]
    assert w8[:18] == list(registry.RECHECK_PRIORITY)
    want_rest = [
        n for n in registry.CONTRACT_QUERIES if n not in recheck_rank
    ][:32]
    assert w8[18:] == want_rest
    assert w8[18] == "q_scan_stats" and w8[-1] == "q_stream_latedata"


def test_round9_window_forecast_rotation():
    """Round-9 forecast, pre-committed like rounds 7/8 (registry recheck
    ROTATION, round 8): once CORRECTNESS_r08 lands with the pinned
    round-8 window, recency sorts those 32 contract queries behind
    everything not yet rechecked — the round-9 window is the 18
    RECHECK_PRIORITY flagships (every round), the REMAINING contract
    queries in §2 order, then the first extensions in registration
    order. Simulated with a synthetic r08 report through the registry's
    own recency parser, so the forecast keeps passing unchanged after
    the real CORRECTNESS_r08 is written."""
    registry.all_queries()
    names_reg = list(registry._QUERIES)
    contract_rank = {n: i for i, n in enumerate(registry.CONTRACT_QUERIES)}
    recheck_rank = {n: i for i, n in enumerate(registry.RECHECK_PRIORITY)}
    reg_rank = {n: i for i, n in enumerate(names_reg)}

    # the pinned round-8 window, fed back as a synthetic r08 report
    nonflag_contract = [
        n for n in registry.CONTRACT_QUERIES if n not in recheck_rank
    ]
    w8 = list(registry.RECHECK_PRIORITY) + nonflag_contract[:32]
    last = registry._last_recheck_from_reports(
        [{n: {"rows_match": True} for n in w8}], [8]
    )
    assert set(last) == set(w8) and set(last.values()) == {8}
    # ...and a pre-era report must NOT count toward recency
    assert registry._last_recheck_from_reports(
        [{n: {"rows_match": True} for n in w8}], [7]
    ) == {}

    def key(name):  # _ordered's done-block key, everything green
        if name in recheck_rank:
            return (3, 0, 0, recheck_rank[name])
        if name in contract_rank:
            return (4, last.get(name, 0), 0, contract_rank[name])
        return (4, last.get(name, 0), 1, reg_rank[name])

    w9 = sorted(names_reg, key=key)[:50]
    assert w9[:18] == list(registry.RECHECK_PRIORITY)
    rest_contract = nonflag_contract[32:]
    assert w9[18 : 18 + len(rest_contract)] == rest_contract
    n_ext = 50 - 18 - len(rest_contract)
    assert n_ext > 0  # the window genuinely reaches the extension tail
    first_exts = [
        n
        for n in names_reg
        if n not in contract_rank and n not in recheck_rank
    ][:n_ext]
    assert w9[18 + len(rest_contract) :] == first_exts
    # rotation is exhaustive: windows of 50 with 18 pinned flagships
    # re-verify the other 329 queries within ceil(329/32) = 11 rounds
    assert len(names_reg) == 347


# Engine modules that registering the queries does not import, each with the
# reason it is still kept. Anything else the package holds must be reached by
# __spark_entry__.queries(); code no registered query reaches gets deleted.
UNREACHED_ALLOWED = {
    # summation-form trainers: the benchmark's ml_train workload and
    # tests/test_ml_iterative*.py call them directly
    "ml_iterative",
    # imported at call time by the LLM/ANN component queries
    "functions.graph",
    # pytest-only surfaces listed in COVERAGE.md: salted skew aggregation,
    # live and stateful Structured Streaming, plan-shape helpers, sinks
    "functions.skew",
    "streaming.live",
    "streaming.stateful",
    "plans",
    "sources",
    # parent package of the streaming modules above
    "streaming",
    # the media-codec stack: no query reaches it, only its own tests and
    # tools/{media,fault}_probe.py do; it is listed by name, and its
    # deletion is ROADMAP item 1
    "sources.adpcm",
    "sources.avi",
    "sources.flac",
    "sources.gif",
    "sources.jpeg",
    "sources.mediainfo",
    "sources.mp4",
    "sources.multimodal",
    "sources.native",
    "sources.netpbm",
    "sources.ogg",
    "sources.pcm_codecs",
    "sources.resample",
    "sources.tga",
    "sources.tiff",
    "sources.webp",
    "sources.y4m",
}


def test_every_engine_module_is_reached_or_allowed():
    """Run in a fresh interpreter: this process's sys.modules already holds
    whatever earlier tests imported, which would hide an unreached module."""
    probe = (
        "import json, pkgutil, sys\n"
        "import __spark_entry__\n"
        "__spark_entry__.queries()\n"
        "import mapreduce_machine_learning_spark as pkg\n"
        "loaded = sorted(m for m in sys.modules if m.startswith(pkg.__name__ + '.'))\n"
        "found = sorted(m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + '.'))\n"
        "print(json.dumps({'loaded': loaded, 'found': found}))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    prefix = "mapreduce_machine_learning_spark."
    unreached = {m[len(prefix) :] for m in out["found"]} - {
        m[len(prefix) :] for m in out["loaded"]
    }
    assert unreached <= UNREACHED_ALLOWED, sorted(unreached - UNREACHED_ALLOWED)
