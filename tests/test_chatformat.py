"""Chat-template rendering + loss-mask spans (operators/chatformat.py)
and cross-conversation boilerplate detection (operators/agentqa.py)."""

import pyspark.sql.functions as F
import pytest

from log2seq_spark.operators import agentqa, chatformat

TURNS = [
    # conv a: user -> assistant -> tool -> assistant
    ("a", 1, "user", "hello there"),
    ("a", 2, "assistant", "hi! how can I help?"),
    ("a", 3, "tool", "{\"ok\": true}"),
    ("a", 4, "assistant", "done"),
    # conv b: single user turn, no loss spans
    ("b", 1, "user", "ping"),
]


@pytest.fixture(scope="module")
def turns(spark):
    return spark.createDataFrame(
        TURNS, ["conv_id", "turn_idx", "role", "text"])


def _render_py(rows):
    return "".join(f"<|{r}|>\n{t}\n" for _, _, r, t in rows)


class TestTurnSpans:
    def test_spans_index_exact_text(self, turns):
        """rendered[start:end] == text for EVERY turn — the whole point
        of the span computation."""
        sp = {(r["conv_id"], r["turn_idx"]): r
              for r in chatformat.turn_spans(turns).collect()}
        rendered = {c: _render_py([x for x in TURNS if x[0] == c])
                    for c in ("a", "b")}
        for conv, idx, role, text in TURNS:
            row = sp[(conv, idx)]
            assert rendered[conv][row["start"]:row["end"]] == text
            assert row["loss"] == (role == "assistant")

    def test_first_turn_offset(self, turns):
        row = [r for r in chatformat.turn_spans(turns).collect()
               if r["conv_id"] == "b"][0]
        # '<|user|>\n' is 9 chars
        assert (row["start"], row["end"]) == (9, 13)

    def test_custom_loss_roles(self, turns):
        sp = chatformat.turn_spans(turns, loss_roles=("user", "tool"))
        flags = {(r["conv_id"], r["turn_idx"]): r["loss"]
                 for r in sp.collect()}
        assert flags[("a", 1)] and flags[("a", 3)] and not flags[("a", 2)]


class TestRender:
    def test_rendered_string(self, turns):
        out = {r["conv_id"]: r["text"]
               for r in chatformat.render_samples(turns).collect()}
        assert out["a"] == _render_py([x for x in TURNS if x[0] == "a"])
        assert out["b"] == "<|user|>\nping\n"

    def test_stats(self, turns):
        st = {r["conv_id"]: r
              for r in chatformat.render_stats(turns).collect()}
        a = st["a"]
        assert a["n_turns"] == 4
        assert a["total_chars"] == len(
            _render_py([x for x in TURNS if x[0] == "a"]))
        assert a["loss_chars"] == len("hi! how can I help?") + len("done")
        assert a["n_loss_spans"] == 2
        b = st["b"]
        assert (b["loss_chars"], b["n_loss_spans"]) == (0, 0)
        assert a["render_md5"] != b["render_md5"]

    def test_digest_catches_mask_shift(self, spark, turns):
        """Perturbing one role header changes the digest (offsets of
        every later span shift)."""
        shifted = turns.withColumn(
            "role", F.when((F.col("conv_id") == "a")
                           & (F.col("turn_idx") == 1),
                           F.lit("userx")).otherwise(F.col("role")))
        d1 = {r["conv_id"]: r["render_md5"]
              for r in chatformat.render_stats(turns).collect()}
        d2 = {r["conv_id"]: r["render_md5"]
              for r in chatformat.render_stats(shifted).collect()}
        assert d1["a"] != d2["a"] and d1["b"] == d2["b"]


class TestBoilerplate:
    def test_cross_conv_templates(self, spark):
        rows = []
        for c in range(6):
            rows.append((f"c{c}", 1, "assistant",
                         f"I retried {c} times, attempt {c * 7}"))
            rows.append((f"c{c}", 2, "user",
                         f"question about {'abcdef'[c]} please"))
        # same conv repeats its own template — must not inflate n_convs
        rows.append(("c0", 3, "assistant", "I retried 99 times, attempt 1"))
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text"])
        out = agentqa.boilerplate_turns(df, min_convs=3).collect()
        bp = [r for r in out if r["is_boilerplate"]]
        assert len(bp) == 1
        assert bp[0]["n_convs"] == 6 and bp[0]["n_turns"] == 7
        assert bp[0]["example"].startswith("I retried")
        # digit-masked: user turns differ beyond digits -> not boilerplate
        assert all(not r["is_boilerplate"] for r in out if r is not bp[0])


class TestRenderCLI:
    def test_jsonl_export_round_trip(self, spark, tmp_path, capsys):
        from log2seq_spark.__main__ import main
        src = str(tmp_path / "turns")
        out = str(tmp_path / "sft")
        spark.createDataFrame(
            TURNS, ["conv_id", "turn_idx", "role", "text"]
        ).write.parquet(src)
        code = main(["render", "--input", src, "--out", out,
                     "--split-val", "0.5"])
        assert code == 0
        assert "# samples: 2" in capsys.readouterr().err
        got = {r["conv_id"]: r for r in spark.read.json(out).collect()}
        a = got["a"]
        assert a["text"] == _render_py([x for x in TURNS if x[0] == "a"])
        # every loss span slices back to an assistant turn's text
        texts = {t for _, _, r, t in TURNS if r == "assistant"}
        assert {a["text"][s:e] for s, e in a["loss_spans"]} == texts
        assert got["b"]["loss_spans"] == []
        assert all(r["split"] in ("train", "val") for r in got.values())
