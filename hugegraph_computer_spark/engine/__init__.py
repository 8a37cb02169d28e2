from hugegraph_computer_spark.engine.driver import (
    ComputerDriver,
    JobHandle,
    JobStatus,
)
from hugegraph_computer_spark.engine.rounds import RoundLoop, RunAborted
from hugegraph_computer_spark.engine.superstep import (
    PregelRunner,
    RunResult,
    StepOutput,
    VertexProgram,
)

__all__ = [
    "ComputerDriver",
    "JobHandle",
    "JobStatus",
    "PregelRunner",
    "RoundLoop",
    "RunAborted",
    "RunResult",
    "StepOutput",
    "VertexProgram",
]
