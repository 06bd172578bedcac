#!/usr/bin/env python3
"""Unit test for check_bench.load_line: every artifact shape the driver or
the builder produces must yield the full queries map. Run from the repo root:

    python3 tools/test_check_bench.py

Exercises (1) the REAL driver artifact BENCH_r05.json committed at the repo
root — the format rounds 1-5 failed to parse ("no bench queries found"),
(2) raw Bench stdout, (3) a driver wrapper whose "parsed" is null but whose
"tail" holds the line (round-1-4 shape), (4) a truncated tail where only the
escaped-regex fallback can recover the map.
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_bench import load_line, normalize  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BENCH_LINE = ('{"metric":"total","value":1.50,"unit":"sec",'
              '"queries":{"q01":0.50,"q02":1.00},"sf":"/tmp/sf"}')


# every file and directory the tests write, removed when the interpreter exits
TMP = tempfile.TemporaryDirectory()


def tmpfile(content: str) -> str:
    f = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False, dir=TMP.name)
    f.write(content)
    f.close()
    return f.name


def test_real_driver_artifact():
    path = os.path.join(ROOT, "BENCH_r05.json")
    d = load_line(path)
    qs = d["queries"]
    assert len(qs) == 93, f"expected 93 queries, got {len(qs)}"
    assert qs["q01"] == 1.27 and qs["q93"] == 1.22, qs
    print(f"ok  real driver artifact BENCH_r05.json: {len(qs)} queries")


def test_real_driver_artifact_r06():
    # round 6's real artifact: the tail window cut the line's HEAD mid-key
    # ('6":0.51,...'), so only the escaped-regex fallback recovers the map —
    # the exact shape the round-5 gate tool choked on, now pinned for real
    path = os.path.join(ROOT, "BENCH_r06.json")
    d = load_line(path)
    qs = d["queries"]
    assert len(qs) == 95, f"expected 95 queries, got {len(qs)}"
    assert qs["q01"] == 0.22 and qs["q95"] == 0.08, qs
    assert d["value"] == 36.33, d.get("value")
    print(f"ok  real driver artifact BENCH_r06.json: {len(qs)} queries, total {d['value']}")


def test_raw_bench_stdout():
    # stdout+stderr merged capture holds the line twice plus sbt noise
    path = tmpfile(f"[warn] noise\n{BENCH_LINE}\n{BENCH_LINE}\n[success]\n")
    qs = load_line(path)["queries"]
    assert qs == {"q01": 0.50, "q02": 1.00}, qs
    print("ok  raw bench stdout (duplicated line + sbt noise)")


def test_driver_wrapper_null_parsed():
    # rounds 1-4: parsed was null, the line survived only inside "tail"
    wrapper = json.dumps({"n": 1, "rc": 0, "parsed": None,
                          "tail": f"[info] x\n{BENCH_LINE}\n"}, indent=2)
    qs = load_line(tmpfile(wrapper))["queries"]
    assert qs == {"q01": 0.50, "q02": 1.00}, qs
    print("ok  driver wrapper with parsed:null, line in tail")


def test_truncated_tail_regex_fallback():
    # tail window cut the line's head: no line parses, only the escaped
    # "queries" object is recoverable
    truncated = BENCH_LINE[BENCH_LINE.index('"queries"') - 1:]
    wrapper = '{"n": 1, "tail": ' + json.dumps(truncated)  # unclosed JSON
    qs = load_line(tmpfile(wrapper))["queries"]
    assert qs == {"q01": 0.50, "q02": 1.00}, qs
    print("ok  truncated tail via escaped-regex fallback")


def test_normalize_compact_centiseconds():
    # round 11+: compact stdout line — qNN keys, integer centisecond values
    line = ('{"metric":"total","value":1.50,"unit":"sec",'
            '"queries_unit":"centiseconds","queries":{"q01":50,"q02":100,'
            '"q03":-1},"sf":"/tmp/sf"}')
    qs = normalize(load_line(tmpfile(line + "\n")))
    assert qs == {"q01": 0.50, "q02": 1.00, "q03": -1}, qs
    print("ok  compact centisecond line normalizes to seconds")


def test_normalize_compact_stripped_keys():
    # round 11+ overflow tier: keys lose their 'q', key_prefix restores it
    line = ('{"metric":"total","value":1.50,"unit":"sec","key_prefix":"q",'
            '"queries_unit":"centiseconds","queries":{"01":50,"178":123},'
            '"sf":"/tmp/sf"}')
    qs = normalize(load_line(tmpfile(line + "\n")))
    assert qs == {"q01": 0.50, "q178": 1.23}, qs
    print("ok  q-stripped compact line normalizes")


def test_normalize_full_format_passthrough():
    qs = normalize(load_line(tmpfile(BENCH_LINE + "\n")))
    assert qs == {"q01": 0.50, "q02": 1.00}, qs
    print("ok  full-format line passes through normalize unchanged")


def test_queries_in_pointer_terminal_tier():
    # round 12+ terminal tier: stdout line has NO queries map, only a
    # pointer at BENCH_LOCAL.json sitting beside the artifact
    d = tempfile.mkdtemp(dir=TMP.name)
    with open(os.path.join(d, "BENCH_LOCAL.json"), "w") as f:
        f.write(BENCH_LINE + "\n")
    ptr = os.path.join(d, "stdout.json")
    with open(ptr, "w") as f:
        f.write('{"metric":"total","value":1.50,"unit":"sec",'
                '"queries_in":"BENCH_LOCAL.json","n_queries":2,"failed":0,'
                '"sf":"/tmp/sf"}\n')
    qs = normalize(load_line(ptr))
    assert qs == {"q01": 0.50, "q02": 1.00}, qs
    print("ok  queries_in pointer tier resolves via BENCH_LOCAL.json")


def test_sentinel_anchor_flags_masked_regression():
    # round-16 VERDICT #4 done-criterion: a synthetic "everything 1.5x
    # slower" artifact must still flag a query that regressed 3x. Floor:
    # two 1.0s queries, sentinel floor 0.40. Artifact: sentinel 0.60
    # (machine uniformly 1.5x), q01 at 1.50 (pure load), q02 at 4.40
    # (~3x beyond the load). Under the OLD median anchor the load factor
    # would be median(1.5, 4.5) = 3.0 and q02's 1.5x-over-adjusted-floor
    # test squeaks by (4.4 < 1.5 * median(1.5, 4.4) = 4.425) — the self-masking the
    # sentinel exists to break; with the sentinel, load = 1.5 and q02 is
    # 3.0x its adjusted floor.
    import io
    from contextlib import redirect_stdout
    from check_bench import main as gate
    floor = tmpfile(json.dumps(
        {"q01_alpha": 1.0, "q02_beta": 1.0, "_sentinel": 0.40,
         "_note": "test fixture"}))
    art = tmpfile('{"metric":"total","value":5.90,"unit":"sec",'
                  '"sentinel":0.60,'
                  '"queries":{"q01":1.50,"q02":4.40},"sf":"/tmp/sf"}\n')
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = gate(art, floor)
    out = buf.getvalue()
    assert rc == 1, f"sentinel anchor must flag the 3x query:\n{out}"
    assert "SLOW q02_beta" in out and "SLOW q01_alpha" not in out, out
    # the same artifact WITHOUT a sentinel falls back to the median anchor:
    # the 4.4x query inflates the median to 2.95x, which masks the
    # PER-QUERY flag — but 2.95x is past the implausible-load bound, so
    # the run still exits 1 as UNGATEABLE rather than silently green. The
    # sentinel gives the precise per-query diagnosis; the bound is the
    # fallback's backstop.
    art2 = tmpfile('{"metric":"total","value":5.90,"unit":"sec",'
                   '"queries":{"q01":1.50,"q02":4.40},"sf":"/tmp/sf"}\n')
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        rc2 = gate(art2, floor)
    out2 = buf2.getvalue()
    assert rc2 == 1 and "ungateable" in out2 and "SLOW q02_beta" not in out2, \
        ("median fallback should mask the per-query flag but fail as "
         "ungateable load: " + out2)
    print("ok  sentinel anchor flags the 3x query precisely; the no-sentinel"
          " fallback masks the query but fails on the implausible-load bound")


def test_implausible_load_fails_gate():
    # a 3x sentinel-implied load is beyond plausible co-tenant contention:
    # scaling every floor by it would wave through a uniform engine-wide
    # regression of the same size, so the gate must exit 1 even when every
    # query is "within" its (tripled) adjusted floor
    import io
    from contextlib import redirect_stdout
    from check_bench import main as gate
    floor = tmpfile(json.dumps({"q01_alpha": 1.0, "_sentinel": 0.40}))
    art = tmpfile('{"metric":"total","value":3.00,"unit":"sec",'
                  '"sentinel":1.20,"queries":{"q01":3.00},"sf":"/x"}\n')
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = gate(art, floor)
    out = buf.getvalue()
    assert rc == 1 and "ungateable" in out, out
    print("ok  implausible load factor (3x) fails the gate instead of "
          "scaling floors past a uniform regression")


def test_sentinel_fallback_without_floor():
    # an artifact WITH a sentinel but a floor file WITHOUT "_sentinel"
    # (transition window) must fall back to the median anchor, not crash
    import io
    from contextlib import redirect_stdout
    from check_bench import main as gate
    floor = tmpfile(json.dumps({"q01_alpha": 1.0}))
    art = tmpfile('{"metric":"total","value":1.00,"unit":"sec",'
                  '"sentinel":0.60,"queries":{"q01":1.00},"sf":"/x"}\n')
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = gate(art, floor)
    assert rc == 0, buf.getvalue()
    print("ok  sentinel without _sentinel floor falls back to median anchor")


if __name__ == "__main__":
    test_real_driver_artifact()
    test_real_driver_artifact_r06()
    test_raw_bench_stdout()
    test_driver_wrapper_null_parsed()
    test_truncated_tail_regex_fallback()
    test_normalize_compact_centiseconds()
    test_normalize_compact_stripped_keys()
    test_normalize_full_format_passthrough()
    test_queries_in_pointer_terminal_tier()
    test_sentinel_anchor_flags_masked_regression()
    test_implausible_load_fails_gate()
    test_sentinel_fallback_without_floor()
    print("all load_line format tests passed")
