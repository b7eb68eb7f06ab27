"""Oracle check of the query outputs with the repository's own gate,
tools/check.py: each query's output (one parquet directory per query,
written by the priming pass) against its oracle SQL run in DuckDB over
the same generated tables. Here only the per-query presence checks are
added: every listed query must have oracle SQL and an output."""
import contextlib
import importlib.util
import io
import json
import os

_TOOLS_CHECK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "check.py")


def _gate():
    spec = importlib.util.spec_from_file_location("tools_check", _TOOLS_CHECK)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(data_dir, out_dir, names):
    """Returns [(query, reason)] for every query whose output is missing
    or differs from its oracle."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = [(n, "no oracle SQL") for n in names if n not in oracle]
    bad += [(n, "no output") for n in names
            if n in oracle and not os.path.isdir(os.path.join(out_dir, n))]
    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        rc = _gate().main(data_dir, out_dir)
    fails = [line[len("FAIL "):].split(": ", 1)
             for line in log.getvalue().splitlines()
             if line.startswith("FAIL ")]
    bad += [(n, why) for n, why in fails]
    if rc != 0 and not fails:
        bad.append(("*", f"tools/check.py exited with {rc}"))
    return bad
