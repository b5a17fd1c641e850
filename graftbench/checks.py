"""Output checks of a benchmark run, applied to the harness's result.

Each check returns a list of failure messages; an empty list is a pass.
"""

import json
import pathlib

RATIO_TOLERANCE = 1e-6


def digest_failures(digests, expected, ops):
    """Catalog ops: every op's result digest equals the recorded one."""
    failures = []
    for op in ops:
        got, want = digests.get(op), expected.get(op)
        if got is None:
            failures.append(f"{op}: no digest")
        elif want is None:
            failures.append(f"{op}: no recorded digest")
        elif got != want:
            failures.append(f"{op}: digest {got} != recorded {want}")
    return failures


def artifact_agreement_failures(first_pass, passes):
    """Report jobs: the cold first pass and every timed pass wrote
    byte-identical artifacts."""
    if not first_pass:
        return ["no artifacts written by the first pass"]
    if not passes:
        return ["no timed pass"]
    return [f"timed pass {i}: artifacts differ from the first pass"
            for i, p in enumerate(passes) if p["artifacts"] != first_pass]


def artifact_digest_failures(artifacts, expected):
    """Report jobs, recorded seed: the artifacts equal the recorded ones."""
    if artifacts != expected:
        differ = sorted(k for k in set(artifacts) | set(expected)
                        if artifacts.get(k) != expected.get(k))
        return [f"artifacts differ from the recorded ones: {', '.join(differ)}"]
    return []


def hardware_ratio_failures(records):
    """``hwsurvey-weekly.json``: within each week, the ratios of every
    dimension (the key prefix before ``_``) sum to 1."""
    failures = []
    if not records:
        return ["hwsurvey-weekly.json has no weeks"]
    for rec in records:
        sums = {}
        for key, value in rec.items():
            if key == "date":
                continue
            dim = key.split("_", 1)[0]
            sums[dim] = sums.get(dim, 0.0) + value
        for dim, total in sorted(sums.items()):
            if abs(total - 1.0) > RATIO_TOLERANCE:
                failures.append(f"hwsurvey {rec.get('date')}: {dim} ratios sum to {total}")
    return failures


def country_failures(name, doc, allowlist):
    """User-activity exports: the country keys equal the allowlist."""
    got, want = set(doc), set(allowlist)
    if got != want:
        return [f"{name}: {len(want - got)} allowlisted countries missing, "
                f"{len(got - want)} unexpected"]
    return []


def report_invariant_failures(artifact_dir, allowlist):
    """Invariants that hold for every seed."""
    d = pathlib.Path(artifact_dir)
    failures = []
    try:
        hw = json.loads((d / "hardware" / "hwsurvey-weekly.json").read_text())
        failures += hardware_ratio_failures(hw)
        for job, name in (("useractivity", "fxhealth.json"), ("useractivity", "webusage.json"),
                          ("annotations", "annotations_fxhealth.json")):
            failures += country_failures(name, json.loads((d / job / name).read_text()), allowlist)
    except (OSError, ValueError) as e:
        failures.append(f"cannot read artifacts: {e}")
    return failures
