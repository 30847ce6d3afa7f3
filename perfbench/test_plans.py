"""The timed steps compute every column: the plans the query mix writes
to the noop sink keep the join and the distinct aggregates that a
`count()` of the same query lets Catalyst drop.

Run from the root of a checkout (builds the program if needed):

    python3 -m unittest discover -s perfbench -p 'test_plans.py'
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import sparkenv  # noqa: E402
from harness import Context  # noqa: E402
from trace import Tracer  # noqa: E402
from w_queries import QueryMix  # noqa: E402


class TimedPlansTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        root = os.getcwd()
        sparkenv.ensure_built(root)
        os.makedirs(os.path.join(root, ".bench_work"), exist_ok=True)
        cls.work = tempfile.mkdtemp(prefix="plans-", dir=os.path.join(root, ".bench_work"))
        cls.spark = sparkenv.start_session(root, cls.work)
        j = sparkenv.Jvm(cls.spark)
        cls.ctx = Context(cls.spark, j, Tracer(cls.spark, False), cls.work, 7)
        cls.mix = QueryMix()
        cls.mix.generate(cls.ctx, os.path.join(cls.work, "in"))

    @classmethod
    def tearDownClass(cls):
        cls.spark.stop()
        shutil.rmtree(cls.work, ignore_errors=True)

    def last_plan(self):
        """Physical plan of the latest SQL execution of the session."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        last = None
        for e in self.ctx.j.iterate(store.executionsList()):
            if last is None or e.executionId() > last.executionId():
                last = e
        return last.physicalPlanDescription()

    def plans(self, name):
        """(plan the timed step executes, plan of a count() of the query)"""
        self.mix.run(self.ctx, name)
        timed = self.last_plan()
        self.ctx.j.df(self.mix.frame(self.ctx, name)).count()
        return timed, self.last_plan()

    def test_dup_longest_keeps_its_join(self):
        timed, counted = self.plans("x_dup_longest")
        self.assertIn("Join", timed)
        self.assertNotIn("Join", counted)

    def test_approx_distinct_keeps_its_distinct_aggregates(self):
        timed, counted = self.plans("q_approx_distinct")
        for agg in ("approx_count_distinct", "count(distinct"):
            self.assertIn(agg, timed)
            self.assertNotIn(agg, counted)


if __name__ == "__main__":
    unittest.main()
