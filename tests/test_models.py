"""util.optional_import: the probe behind the optional-library upgrade
paths (PIL image decode, rapidfuzz Jaro-Winkler)."""

from __future__ import annotations

import pytest

from science_datalake_spark.util import optional_import


def test_optional_import_probe():
    assert optional_import("json") is not None
    assert optional_import("definitely_not_a_module_xyz") is None
    # cached: second probe returns the same object without re-importing
    assert optional_import("json") is optional_import("json")


def test_optional_import_raises_for_a_broken_module(tmp_path, monkeypatch):
    """Only an absent module degrades to None: one that is installed but
    fails while importing raises its own error."""
    (tmp_path / "broken_optional_mod.py").write_text(
        'raise RuntimeError("broken at import")\n'
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    # the failure is not cached: a second probe raises again
    for _ in range(2):
        with pytest.raises(RuntimeError, match="broken at import"):
            optional_import("broken_optional_mod")


@pytest.mark.optional_deps
def test_pil_decode_upgrade_or_none():
    """decode_image on a PNG payload: decodes when PIL is importable,
    returns None when it is not."""
    from science_datalake_spark.operators.multimodal import decode_image

    # 1x1 black-pixel PNG (smallest valid PNG, public-domain bytes)
    png = bytes.fromhex(
        "89504e470d0a1a0a0000000d49484452000000010000000108000000003a7e9b55"
        "0000000a49444154789c636000000002000148afa4710000000049454e44ae426082"
    )
    img = decode_image(png)
    if optional_import("PIL.Image") is not None:
        assert img is not None and img.shape[:2] == (1, 1)
    else:
        assert img is None


@pytest.mark.optional_deps
def test_jw_scorer_upgrade_matches_reference_impl():
    """When rapidfuzz is importable the fast path must agree with the
    portable jaro_winkler_py on a broad sample (same boost threshold,
    same empty-string convention); otherwise the scorer IS
    jaro_winkler_py."""
    from science_datalake_spark.operators.linkage import _jw_scorer, jaro_winkler_py

    jw = _jw_scorer()
    if optional_import("rapidfuzz.distance") is None:
        assert jw is jaro_winkler_py
        return
    samples = [
        ("", ""), ("", "abc"), ("abc", ""),
        ("martha", "marhta"), ("dixon", "dicksonx"), ("jellyfish", "smellyfish"),
        ("deep learning", "deep learnin"), ("a", "a"), ("ab", "ba"),
        ("prefix match long", "prefix match lung"),
    ]
    for x, y in samples:
        assert abs(jw(x, y) - jaro_winkler_py(x, y)) < 1e-12, (x, y)
