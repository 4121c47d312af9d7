"""Output digests, the recorded-digest store, and the run summary statistics.

A response is digested from the bytes the HTTP server would send
(``json.dumps(resp, default=api._json_default)``), parsed back, with every
float cut to 9 significant digits so that a last-bit change in a Spark sum's
merge order does not read as a wrong answer.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics

SIG_DIGITS = 9
EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def canonical(o):
    """JSON value with floats rounded to SIG_DIGITS significant digits."""
    if isinstance(o, bool) or o is None or isinstance(o, (int, str)):
        return o
    if isinstance(o, float):
        if math.isnan(o) or math.isinf(o):
            return repr(o)
        return float(f"{o:.{SIG_DIGITS}g}")
    if isinstance(o, list):
        return [canonical(v) for v in o]
    if isinstance(o, dict):
        return {str(k): canonical(v) for k, v in o.items()}
    raise TypeError(f"not a JSON value: {type(o).__name__}")


def digest_text(text: str) -> str:
    """Digest of one encoded response body."""
    body = json.dumps(canonical(json.loads(text)), sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(body.encode("utf-8")).hexdigest()[:20]


def error_digest(exc: BaseException) -> str:
    """What a failed operation records in place of a digest."""
    return f"error:{type(exc).__name__}"


def load_expected(workload: str, seed: int) -> dict[str, str] | None:
    path = os.path.join(EXPECTED_DIR, f"{workload}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f).get(str(seed))


def record_expected(workload: str, seed: int, digests: dict[str, str]) -> None:
    path = os.path.join(EXPECTED_DIR, f"{workload}.json")
    table = {}
    if os.path.exists(path):
        with open(path) as f:
            table = json.load(f)
    table[str(seed)] = dict(sorted(digests.items()))
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    with open(path, "w") as f:
        json.dump(dict(sorted(table.items(), key=lambda kv: int(kv[0]))), f, indent=1)
        f.write("\n")


class DigestCheck:
    """Compares each operation's digest with the recorded one for the seed,
    or, for a seed with no record, with the first digest the run saw for
    the same operation (every session of a run replays the same inputs).

    A recorded failure (``error:...``) that now succeeds is not a mismatch:
    a fixed defect must not fail the check; its output is still checked by
    the workload's own invariants."""

    def __init__(self, expected: dict[str, str] | None):
        self.expected = expected
        self.seen: dict[str, str] = {}
        self.mismatches: list[str] = []

    def check(self, key: str, digest: str) -> bool:
        ref = self.seen.setdefault(key, digest)
        if self.expected is not None:
            ref = self.expected.get(key, ref)
        if digest == ref or (ref.startswith("error:") and not digest.startswith("error:")):
            return True
        self.mismatches.append(f"{key}: {digest} != {ref}")
        return False


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the steadiness
    measure applied across runs of the benchmark)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def parse_result(stdout: str) -> dict:
    """The result object a run prints as the last line of its stdout."""
    lines = [ln for ln in stdout.strip().splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(res["failed"], int) or not 0 <= res["failed"] <= res["attempted"]:
        raise ValueError("failed must be a whole number within attempted")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return res
