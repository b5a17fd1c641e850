"""Tests of the benchmark's output checks.

    python3 -m unittest discover -s graftbench/tests
"""

import pathlib
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import checks  # noqa: E402


class DigestCheckTest(unittest.TestCase):
    def test_match_mismatch_and_missing(self):
        expected = {"a": "1:00", "b": "2:00"}
        self.assertEqual(checks.digest_failures({"a": "1:00", "b": "2:00"}, expected, ["a", "b"]), [])
        self.assertEqual(len(checks.digest_failures({"a": "1:01", "b": "2:00"}, expected, ["a", "b"])), 1)
        self.assertEqual(len(checks.digest_failures({"a": "1:00"}, expected, ["a", "b"])), 1)
        self.assertEqual(len(checks.digest_failures({"c": "3:00"}, expected, ["c"])), 1)


class ArtifactCheckTest(unittest.TestCase):
    def test_passes_must_agree_with_first_pass(self):
        first = {"x.json": "h1"}
        same = [{"artifacts": {"x.json": "h1"}}]
        self.assertEqual(checks.artifact_agreement_failures(first, same), [])
        # one timed pass is still compared, against the first pass
        self.assertEqual(len(checks.artifact_agreement_failures({"x.json": "h2"}, same)), 1)
        differ = same + [{"artifacts": {"x.json": "h2"}}]
        self.assertEqual(len(checks.artifact_agreement_failures(first, differ)), 1)
        self.assertEqual(len(checks.artifact_agreement_failures({}, same)), 1)
        self.assertEqual(len(checks.artifact_agreement_failures(first, [])), 1)

    def test_recorded_artifacts(self):
        self.assertEqual(checks.artifact_digest_failures({"a": "1"}, {"a": "1"}), [])
        self.assertEqual(len(checks.artifact_digest_failures({"a": "1"}, {"a": "2"})), 1)


class InvariantTest(unittest.TestCase):
    def test_hardware_ratios_sum_to_one_per_dimension(self):
        good = [{"date": "2020-02-24", "ram_4": 0.25, "ram_8": 0.75, "osName_Linux": 1.0}]
        self.assertEqual(checks.hardware_ratio_failures(good), [])
        bad = [{"date": "2020-02-24", "ram_4": 0.25, "ram_8": 0.70, "osName_Linux": 1.0}]
        self.assertEqual(len(checks.hardware_ratio_failures(bad)), 1)
        self.assertEqual(len(checks.hardware_ratio_failures([])), 1)

    def test_countries_equal_allowlist(self):
        allow = ["Worldwide", "France"]
        self.assertEqual(checks.country_failures("f", {"France": [], "Worldwide": []}, allow), [])
        self.assertEqual(len(checks.country_failures("f", {"France": []}, allow)), 1)
        self.assertEqual(len(checks.country_failures("f", {"France": [], "Worldwide": [], "Mars": []}, allow)), 1)


if __name__ == "__main__":
    unittest.main()
