"""Correctness check of one CLI operation against its expected verdict.

Looks at the three things an operator sees: the exit code with the JSON
line the CLI prints on stdout, ``run-response.json`` and
``error-file.json``, whose per-asset entries must name exactly the
expected assets with exactly the expected error keys.
"""

from __future__ import annotations

import json
import os


def _stdout_verdict(stdout: str) -> dict | None:
    for line in reversed(stdout.strip().splitlines()):
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict) and "run_id" in doc:
            return doc
    return None


def check_op(expected: dict, out_dir: str, exit_code: int, stdout: str) -> list[str]:
    """Every way the operation's outputs differ from ``expected``; empty
    when the verdict is exactly right."""
    problems = []
    if exit_code != expected["exit_code"]:
        problems.append(f"exit code {exit_code} != {expected['exit_code']}")
    line = _stdout_verdict(stdout)
    if line is None:
        problems.append("no verdict line on stdout")
    else:
        for key in ("status", "fileError", "violation_assets"):
            if line.get(key) != expected[key]:
                problems.append(f"stdout {key} {line.get(key)!r} != {expected[key]!r}")
    try:
        with open(os.path.join(out_dir, "run-response.json")) as fh:
            rr = json.load(fh)
        with open(os.path.join(out_dir, "error-file.json")) as fh:
            ef = json.load(fh)
    except (OSError, ValueError) as exc:
        return problems + [f"unreadable verdict file: {exc}"]
    if rr.get("validationStatus") != expected["status"] or rr.get("error") != "":
        problems.append(f"run-response {rr.get('validationStatus')!r} error={rr.get('error')!r}")
    if ef.get("fileError") != expected["fileError"]:
        problems.append(f"error-file fileError {ef.get('fileError')!r} != {expected['fileError']!r}")

    got = {v["assetId"]: sorted(e["errorKey"] for e in v["errors"])
           for v in ef.get("validationErrors", [])}
    if got != expected["violations"]:
        problems.append(f"violating assets differ: got {sorted(got.items())[:4]}")
    return problems
