"""tools/rotate_window.py policy invariants — pure propose() logic,
no Spark. The tool rewrites the driver-checked PRIORITY_WINDOW each
round; these pin the three properties a bad rotation would break:
(1) rotate-ins are never-attested oracle names only, (2) a rotation
never leaves a tag family without a window representative, (3) the
window size is preserved."""

from __future__ import annotations

from dataclasses import dataclass, field

import pytest

from tools.rotate_window import propose


@dataclass
class Spec:
    name: str
    oracle: str | None = "SELECT 1"
    tags: tuple[str, ...] = field(default_factory=tuple)


def make_registry():
    # window of 4; families: alpha has two window reps, beta one,
    # gamma one; two never-attested candidates outside
    return {
        "w_alpha1": Spec("w_alpha1", tags=("alpha",)),
        "w_alpha2": Spec("w_alpha2", tags=("alpha",)),
        "w_beta": Spec("w_beta", tags=("beta",)),
        "w_gamma": Spec("w_gamma", tags=("gamma",)),
        "new_alpha": Spec("new_alpha", tags=("alpha",)),
        "new_delta": Spec("new_delta", tags=("delta",)),
        "no_oracle": Spec("no_oracle", oracle=None, tags=("alpha",)),
    }


def test_ins_are_never_attested_oracle_names():
    reg = make_registry()
    window = ["w_alpha1", "w_alpha2", "w_beta", "w_gamma"]
    attested = {"w_alpha1": 5, "w_alpha2": 5, "w_beta": 5, "w_gamma": 5}
    ins, outs, new_window, _ = propose(window, reg, attested, [], 2, 2)
    assert set(ins) <= {"new_alpha", "new_delta"}
    assert "no_oracle" not in ins  # rows-only queries never rotate in
    assert len(new_window) == len(window)


def test_family_last_representative_never_rotates_out():
    reg = make_registry()
    window = ["w_alpha1", "w_alpha2", "w_beta", "w_gamma"]
    # everything long-green; beta/gamma are their families' ONLY reps
    attested = {"w_alpha1": 9, "w_alpha2": 9, "w_beta": 9, "w_gamma": 9}
    # one in (new_delta carries its own new family), so one out —
    # the out must come from alpha (two reps), never beta/gamma
    ins, outs, new_window, _ = propose(
        window, reg, attested, ["new_delta"], 1, 2
    )
    assert ins == ["new_delta"]
    assert outs and outs[0] in ("w_alpha1", "w_alpha2")
    assert "w_beta" in new_window and "w_gamma" in new_window


def test_min_green_blocks_fresh_names_from_rotating_out():
    reg = make_registry()
    window = ["w_alpha1", "w_alpha2", "w_beta", "w_gamma"]
    # alpha2 only attested once — not yet rotation-eligible
    attested = {"w_alpha1": 9, "w_alpha2": 1, "w_beta": 9, "w_gamma": 9}
    ins, outs, _, _ = propose(window, reg, attested, ["new_alpha"], 1, 2)
    assert outs == ["w_alpha1"]


def test_include_rejects_already_attested_names():
    reg = make_registry()
    window = ["w_alpha1", "w_alpha2", "w_beta", "w_gamma"]
    attested = {n: 3 for n in window}
    attested["new_alpha"] = 1  # driver has seen it — not a valid in
    with pytest.raises(SystemExit):
        propose(window, reg, attested, ["new_alpha"], 1, 2)


def test_exclude_pins_names_against_rotation_out():
    """r14: --exclude keeps judge-pinned flagships in-window even when
    their green count clears min-green."""
    reg = make_registry()
    window = ["w_alpha1", "w_alpha2", "w_beta", "w_gamma"]
    attested = {"w_alpha1": 9, "w_alpha2": 9, "w_beta": 9, "w_gamma": 9}
    ins, outs, new_window, _ = propose(
        window, reg, attested, ["new_alpha"], 1, 2, exclude=("w_alpha1",)
    )
    assert outs == ["w_alpha2"]
    assert "w_alpha1" in new_window


def test_exclude_counts_toward_family_safety():
    """An excluded name still counts as its family's representative
    when judging whether ANOTHER name may rotate out."""
    reg = make_registry()
    window = ["w_alpha1", "w_alpha2", "w_beta", "w_gamma"]
    attested = {"w_alpha1": 9, "w_alpha2": 9, "w_beta": 9, "w_gamma": 9}
    # exclude alpha1; alpha2 may still leave because alpha1 remains
    ins, outs, new_window, _ = propose(
        window, reg, attested, ["new_delta"], 1, 2, exclude=("w_alpha1",)
    )
    assert outs == ["w_alpha2"]


def test_exclude_rejects_names_outside_window():
    """A typo'd --exclude must fail loudly, not silently un-pin."""
    reg = make_registry()
    window = ["w_alpha1", "w_alpha2", "w_beta", "w_gamma"]
    attested = {n: 9 for n in window}
    with pytest.raises(SystemExit):
        propose(window, reg, attested, ["new_alpha"], 1, 2,
                exclude=("w_alpha1_typo",))


def test_hash_match_true_required_for_attestation(tmp_path, monkeypatch):
    """r13 ADVICE: a driver row with a null/missing hash_match no
    longer counts as attestation — only hash_match=true rows do."""
    import json

    import tools.rotate_window as rw

    art = tmp_path / "CORRECTNESS_r99.json"
    art.write_text(json.dumps({
        "full_green": {"err": None, "hash_match": True},
        "rows_only": {"err": None, "hash_match": None},
        "no_hash_key": {"err": None},
        "failed": {"err": "boom", "hash_match": True},
    }))
    monkeypatch.setattr(rw, "REPO", str(tmp_path))
    seen = rw.ever_attested()
    assert seen == {"full_green": 1}


def test_insufficient_family_safe_outs_fails_loudly():
    reg = make_registry()
    window = ["w_beta", "w_gamma"]  # every name is its family's last rep
    attested = {"w_beta": 9, "w_gamma": 9}
    with pytest.raises(SystemExit):
        propose(window, reg, attested, ["new_alpha", "new_delta"], 2, 2)


def test_verify_logs_all_pass_lines_and_crash_diagnostics(monkeypatch, capsys):
    """r15 (r14 verdict item 4 + self-review): verify() must print
    EVERY per-name PASS/FAIL line (ROTATION_r14.log carried 1 of 12),
    and when compare.py crashes without verdict lines it must surface
    the raw stdout/stderr tails instead of exiting silently."""

    import tools.rotate_window as rw

    class R:
        def __init__(self, rc, out, err=""):
            self.returncode, self.stdout, self.stderr = rc, out, err

    # happy path: every PASS line + the summary reaches stdout
    ok_out = "\n".join(
        ["noise header", "PASS a (1 rows, 0.1s)", "PASS b (2 rows, 0.2s)",
         "", "2 pass, 0 fail, 0 rows-only"]
    )
    monkeypatch.setattr(rw.subprocess, "run", lambda *a, **k: R(0, ok_out))
    rw.verify(["a", "b"])
    out = capsys.readouterr().out
    assert "PASS a" in out and "PASS b" in out and "2 pass, 0 fail" in out

    # crash path: no PASS/FAIL lines at all -> stderr tail surfaced
    monkeypatch.setattr(
        rw.subprocess,
        "run",
        lambda *a, **k: R(1, "partial junk", "Traceback: boom\nImportError: x"),
    )
    with pytest.raises(SystemExit):
        rw.verify(["a", "b"])
    out = capsys.readouterr().out
    assert "rc=1" in out and "ImportError: x" in out
