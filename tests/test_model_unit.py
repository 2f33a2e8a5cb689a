"""Pure-Python unit tests (no Spark): thresholds, parsing, identities,
scrub/langid/perplexity model semantics — mirrors the reference's unit
layer (SURVEY §5.1)."""

import pytest

from soda_core_spark.plans.model import (
    ContractParseError,
    MissingConfig,
    Threshold,
    ValidityConfig,
    contract_from_dict,
    contract_from_yaml,
    resolve_variables,
)
from soda_core_spark.plans.results import CheckOutcome, check_identity, consistent_hash


class TestThreshold:
    def test_must_be(self):
        t = Threshold(must_be=0)
        assert t.passes(0) and not t.passes(1) and not t.passes(None)

    def test_inner_range_inclusive(self):
        t = Threshold(must_be_between=(1, 3))
        assert t.passes(1) and t.passes(3) and not t.passes(3.01)

    def test_outer_range_exclusive_inside(self):
        t = Threshold(must_be_not_between=(1, 3))
        assert t.passes(1) and t.passes(3) and not t.passes(2)

    def test_conjunction(self):
        t = Threshold(must_be_greater_than=0, must_be_less_than=10)
        assert t.passes(5) and not t.passes(0) and not t.passes(10)

    def test_from_dict_rejects_bad_between(self):
        with pytest.raises(ContractParseError):
            Threshold.from_dict({"must_be_between": [1]})

    def test_describe(self):
        assert "must_be 0" in Threshold(must_be=0).describe()


class TestParsing:
    def test_defaults(self):
        c = contract_from_dict(
            {"dataset": "t", "checks": ["row_count"],
             "columns": [{"name": "a", "checks": ["missing", "duplicate"]}]}
        )
        rc, miss, dup = c.all_checks()
        assert rc.threshold.must_be_greater_than == 0
        assert miss.threshold.must_be == 0
        assert dup.threshold.must_be == 0

    def test_column_config_inherited_by_checks(self):
        c = contract_from_dict(
            {"dataset": "t", "columns": [
                {"name": "a", "missing_values": ["X"], "checks": ["missing"]}
            ]}
        )
        assert c.columns[0].checks[0].missing.missing_values == ("X",)

    def test_check_overrides_column_config(self):
        c = contract_from_dict(
            {"dataset": "t", "columns": [
                {"name": "a", "missing_values": ["X"],
                 "checks": [{"missing": {"missing_values": ["Y"]}}]}
            ]}
        )
        assert c.columns[0].checks[0].missing.missing_values == ("Y",)

    def test_unknown_check_type(self):
        with pytest.raises(ContractParseError):
            contract_from_dict({"dataset": "t", "checks": ["nope"]})

    def test_freshness_requires_column(self):
        with pytest.raises(ContractParseError):
            contract_from_dict({"dataset": "t", "checks": ["freshness"]})

    def test_empty_valid_values_is_configured(self):
        v = ValidityConfig.from_dict({"valid_values": []})
        assert v.is_configured() and v.valid_values == ()

    def test_yaml_variables(self):
        c = contract_from_yaml(
            "dataset: t\nvariables:\n  n: 5\nchecks:\n  - row_count:\n      must_be: ${n}\n"
        )
        assert c.checks[0].threshold.must_be == 5

    def test_variable_cycle(self):
        with pytest.raises(ContractParseError):
            resolve_variables("${a}", {"a": "${b}", "b": "${a}"})


class TestIdentity:
    def test_stable(self):
        assert check_identity("d", "missing", "c", None) == check_identity(
            "d", "missing", "c", None
        )

    def test_qualifier_disambiguates(self):
        assert check_identity("d", "missing", "c", "q1") != check_identity(
            "d", "missing", "c", "q2"
        )

    def test_hash_len(self):
        assert len(consistent_hash("x")) == 16  # blake2b-8 hex

    def test_none_skipped_but_positional(self):
        assert consistent_hash("a", None, "b") == consistent_hash("a", "b")


class TestScrub:
    def test_ordered_rules(self):
        from soda_core_spark.functions.scrub import scrub_text

        assert scrub_text("mail a@b.com now") == "mail <EMAIL> now"
        assert scrub_text("ssn 123-45-6789 end") == "ssn <SSN> end"
        assert scrub_text("call +1-555-867-5309.") == "call <PHONE>."
        assert scrub_text("ip 10.0.0.1!") == "ip <IP>!"
        assert scrub_text("card 4111-1111-1111-1111") == "card <CARD>"
        assert scrub_text("that frakking thing") == "that <TOX> thing"
        assert scrub_text("FRAKKING") == "<TOX>"  # case-insensitive
        assert scrub_text(None) is None
        assert scrub_text("clean text stays") == "clean text stays"

    def test_ssn_not_eaten_by_phone(self):
        from soda_core_spark.functions.scrub import scrub_text

        out = scrub_text("123-45-6789")
        assert out == "<SSN>"


class TestLangid:
    def test_score_batch(self):
        import pandas as pd

        from soda_core_spark.functions.langid import score_batch

        res = score_batch(
            pd.Series(
                [
                    "the cat and the dog are in the house with all of them",
                    "der hund und die katze sind mit dem kind im haus",
                    "xyzzy qwerty",
                    "",
                ]
            )
        )
        assert list(res["langid_pred"]) == ["en", "de", "und", "und"]
        assert res["langid_conf"].iloc[0] > 0.4

    def test_tie_break_matches_sorted_lang_order(self):
        import pandas as pd

        from soda_core_spark.functions.langid import LANGS, score_batch

        assert LANGS == tuple(sorted(LANGS))
        # a token in no set → und with conf 0
        res = score_batch(pd.Series(["zzzz"]))
        assert res["langid_pred"].iloc[0] == "und"


class TestPerplexity:
    def test_fluent_vs_junk(self):
        from soda_core_spark.functions.perplexity import doc_log_perplexity

        fluent = doc_log_perplexity(
            "the history of science is the history of ideas tested against observation"
        )
        junk = doc_log_perplexity("xq zv jj kk qq ww xx yy zz vv bb nn mm")
        assert fluent < 2.5
        assert junk > fluent + 1.0

    def test_short_sentinel(self):
        from soda_core_spark.functions.perplexity import doc_log_perplexity

        assert doc_log_perplexity("") == 20.0
        assert doc_log_perplexity("!!!###") == 20.0  # normalizes to empty

    def test_table_matches_dict_model(self):
        import numpy as np

        from soda_core_spark.functions.perplexity import (
            _normalize,
            doc_log_perplexity,
            gather_batch,
        )
        import pandas as pd

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "completely different words about query engines",
            "a",
        ]
        normalized = pd.Series([" ".join(_normalize(t).split()) for t in texts])
        vec = gather_batch(normalized).to_numpy()
        ref = np.array([doc_log_perplexity(t) for t in texts])
        assert np.allclose(vec, ref, atol=1e-9)
