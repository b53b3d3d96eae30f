package graft.streaming

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

/** Every streaming twin's state schema, pinned as DDL. A checkpoint
  * resumes only if the state encoder still reads what it wrote (the
  * SloMonitor v2 / Holt lesson), so a refactor must not move a field,
  * rename it, retype it or change its nullability.
  */
class StateSchemaSpec extends AnyFunSuite {

  private val pinned = Seq(
    "TState" -> (Encoders.product[Transitions.TState].schema,
      "last STRUCT<tsUs: BIGINT NOT NULL, id: BIGINT NOT NULL, tpl: STRING>,buf ARRAY<STRUCT<tsUs: BIGINT NOT NULL, id: BIGINT NOT NULL, tpl: STRING>>"),
    "ScdState" -> (Encoders.product[Scd2Stream.ScdState].schema,
      "pending ARRAY<STRUCT<_1: BIGINT NOT NULL, _2: BIGINT NOT NULL, _3: STRING>>,openState STRING,openFrom BIGINT NOT NULL,version BIGINT NOT NULL"),
    "CovState" -> (Encoders.product[CoverageStream.CovState].schema,
      "pending ARRAY<BIGINT>,open ARRAY<STRUCT<_1: BIGINT NOT NULL, _2: BIGINT NOT NULL>>,coveredClosed BIGINT NOT NULL,n BIGINT NOT NULL,s0 BIGINT NOT NULL,e1 BIGINT NOT NULL,anchor BIGINT NOT NULL"),
    "AnomState" -> (Encoders.product[Anomaly.AnomState].schema,
      "counts MAP<BIGINT, BIGINT>,scoredUpTo BIGINT NOT NULL"),
    "HoltState" -> (Encoders.product[Holt.HoltState].schema,
      "counts MAP<BIGINT, BIGINT>,scoredUpTo BIGINT NOT NULL,firstHr BIGINT NOT NULL"),
    "BurnState" -> (Encoders.product[SloMonitor.BurnState].schema,
      "hours MAP<BIGINT, STRUCT<_1: BIGINT NOT NULL, _2: BIGINT NOT NULL>>,anchor BIGINT NOT NULL"),
    "BudgetState" -> (Encoders.product[SloMonitor.BudgetState].schema,
      "hours MAP<BIGINT, STRUCT<_1: BIGINT NOT NULL, _2: BIGINT NOT NULL>>,h0 BIGINT NOT NULL,anchor BIGINT NOT NULL"),
    "CanaryState" -> (Encoders.product[SloMonitor.CanaryState].schema,
      "hours MAP<STRING, BIGINT>,anchor BIGINT NOT NULL"),
    "SeasonState" -> (Encoders.product[SloMonitor.SeasonState].schema,
      "h0 BIGINT NOT NULL,anchor BIGINT NOT NULL,hist MAP<STRING, BIGINT>,recent MAP<STRING, BIGINT>"),
    "IncidentState" -> (Encoders.product[SloMonitor.IncidentState].schema,
      "nIncidents BIGINT NOT NULL,openFireSec BIGINT,sumDur BIGINT NOT NULL,nClosed BIGINT NOT NULL,maxDur BIGINT,lastEdgeSec BIGINT NOT NULL"),
    "StormAgg" -> (Encoders.product[SloMonitor.StormAgg].schema,
      "start BIGINT NOT NULL,last BIGINT NOT NULL,n BIGINT NOT NULL,keys ARRAY<STRING>"),
    "CusumState" -> (Encoders.product[SloMonitor.CusumState].schema,
      "h0 BIGINT NOT NULL,base MAP<BIGINT, BIGINT>,pending MAP<BIGINT, BIGINT>,p BIGINT NOT NULL,pminClamped BIGINT NOT NULL"),
    "SessionState" -> (Encoders.product[Sessionize.SessionState].schema,
      "start BIGINT NOT NULL,lastTs BIGINT NOT NULL,n BIGINT NOT NULL,sum DOUBLE NOT NULL"),
    "PathState" -> (Encoders.product[SessionPaths.PathState].schema,
      "lastUs BIGINT NOT NULL,head ARRAY<STRUCT<tsUs: BIGINT NOT NULL, id: BIGINT NOT NULL, etype: STRING>>"),
    "SuppressState" -> (Encoders.product[Suppress.SuppressState].schema,
      "lastTs BIGINT NOT NULL,lastId BIGINT NOT NULL,lastKeptTs BIGINT NOT NULL"),
    "LastVerdict" -> (Encoders.product[AlertEdges.LastVerdict].schema,
      "hrStart BIGINT NOT NULL,isAnomaly BOOLEAN NOT NULL"),
    "CcState" -> (Encoders.product[GraphStream.CcState].schema,
      "batch BIGINT NOT NULL,comp MAP<BIGINT, BIGINT>"),
    "SsspState" -> (Encoders.product[GraphStream.SsspState].schema,
      "batch BIGINT NOT NULL,adj MAP<BIGINT, MAP<BIGINT, BIGINT>>,dist MAP<BIGINT, BIGINT>"),
    "LpaState" -> (Encoders.product[GraphStream.LpaState].schema,
      "batch BIGINT NOT NULL,adj MAP<BIGINT, MAP<BIGINT, BIGINT>>,lab MAP<BIGINT, BIGINT>")
  )

  pinned.foreach { case (name, (schema, ddl)) =>
    test(s"$name keeps its checkpoint schema") {
      assert(schema.toDDL == ddl)
    }
  }
}
