"""scripts/scaling.py carries hand-maintained blocks of BASELINE.md
across regenerations, and says so when it cannot."""

import importlib.util
import os

SCALING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "scaling.py"
)


def _scaling():
    spec = importlib.util.spec_from_file_location("scaling_script", SCALING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_blocks_carried_with_loose_marker(tmp_path, capsys):
    md = tmp_path / "BASELINE.md"
    md.write_text(
        "# title\n"
        "<!-- hand-maintained -->  \nnote one\n<!-- /hand-maintained -->\n"
        "generated\n"
        "<!-- hand-maintained -->\n\nnote two\n<!-- /hand-maintained -->\n"
    )
    out = _scaling().hand_maintained_blocks(str(md))
    assert "note one" in out and "note two" in out
    assert "generated" not in out
    assert capsys.readouterr().err == ""


def test_warns_when_no_block(tmp_path, capsys):
    md = tmp_path / "BASELINE.md"
    md.write_text("# only generated text\n")
    assert _scaling().hand_maintained_blocks(str(md)) == ""
    assert "no hand-maintained blocks" in capsys.readouterr().err


def test_warns_when_unreadable(tmp_path, capsys):
    md = tmp_path / "BASELINE.md"
    md.mkdir()  # exists, but reading it raises OSError
    assert _scaling().hand_maintained_blocks(str(md)) == ""
    assert "cannot read" in capsys.readouterr().err


def test_missing_file_is_silent(tmp_path, capsys):
    assert _scaling().hand_maintained_blocks(str(tmp_path / "none.md")) == ""
    assert capsys.readouterr().err == ""
