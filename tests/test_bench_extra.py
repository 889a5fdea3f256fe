"""bench_extra.py argument parsing (no Spark session needed)."""

import pytest

from bench import HEADLINE
from bench_extra import parse_args


@pytest.mark.parametrize(
    "argv",
    [
        ["--plans"],                  # no tag at all
        ["q_dup_groups", "--plans"],  # trailing --plans
        ["--plans", "q_dup_groups"],  # --plans swallowed the query name
        [],                           # nothing to time
    ],
)
def test_bad_command_lines_exit_with_usage(argv, capsys):
    with pytest.raises(SystemExit) as exc:
        parse_args(argv)
    assert exc.value.code == 2
    assert "usage:" in capsys.readouterr().err


def test_plans_tag_and_query_names():
    args = parse_args(["--plans", "before", "q_dup_groups", "q_lang_id"])
    assert args.plans == "before"
    assert args.names == ["q_dup_groups", "q_lang_id"]
    args = parse_args(["q_dup_groups", "--plans", "after"])
    assert (args.plans, args.names) == ("after", ["q_dup_groups"])
    assert parse_args(["q_lang_id"]).plans is None


def test_all_selects_the_headline_list():
    assert parse_args(["--all"]).names == HEADLINE
