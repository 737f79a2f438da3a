"""Round artifacts must stay in lockstep with the query registry
(VERDICT r5 item 7): a forgotten `tools/check_oracle.py --json` refresh
after adding an entry should fail CI loudly instead of shipping a stale
correctness witness."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _latest_full_artifact() -> Path | None:
    cands = sorted(REPO.glob("CORRECTNESS_full_r*.json"))
    return cands[-1] if cands else None


def _entry_module():
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod

    return entrymod


def _non_green(results: dict) -> list[str]:
    """Names of the non-green entries of a ``check_oracle.py --json``
    payload's ``results``. ``"status": "unavailable"`` is green only
    for an entry that reads a fixture (``__spark_entry__.fixture_dir``):
    any other entry must run and match."""
    fixture_dir = _entry_module().fixture_dir

    def green(name: str, rec: dict) -> bool:
        if rec.get("status") == "unavailable":
            return fixture_dir(name) is not None
        return not (rec.get("err") or rec.get("rows_match") is False
                    or rec.get("hash_match") is False)

    return sorted(k for k, v in results.items() if not green(k, v))


def test_full_correctness_artifact_covers_every_query():
    art = _latest_full_artifact()
    assert art is not None, "no CORRECTNESS_full_r*.json committed"
    data = json.loads(art.read_text()).get("results", {})

    registered = set(_entry_module().queries())
    witnessed = set(data)
    missing = sorted(registered - witnessed)
    assert not missing, (
        f"{art.name} is stale: {len(missing)} registered queries have no "
        f"correctness witness (e.g. {missing[:5]}) — re-run "
        "`python tools/check_oracle.py --json CORRECTNESS_full_r<N>.json`"
    )


def test_full_correctness_artifact_is_green():
    art = _latest_full_artifact()
    assert art is not None
    payload = json.loads(art.read_text())
    assert payload.get("failures", 1) == 0, (
        f"{art.name} records failures={payload.get('failures')}"
    )
    bad = _non_green(payload.get("results", {}))
    assert not bad, f"{art.name} carries non-green entries: {bad[:5]}"


def test_unavailable_is_green_only_for_fixture_entries():
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None, "seconds": 0.1}
    gone = {"status": "unavailable", "missing": "/no/such/fixture"}
    assert _non_green({"kg_answer": ok, "kg_ref_dwell1_degree": gone}) == []
    assert _non_green({"kg_answer": gone, "kg_ref_dwell1_degree": gone}) == [
        "kg_answer"
    ]
    assert _non_green({"kg_answer": {**ok, "hash_match": False}}) == ["kg_answer"]
