from .ops import OperationType
from .schema import CDC_ENVELOPE_FIELDS, CdcTableDescriptor, build_cdc_log_schema
from .state import TaskId, TaskState

__all__ = [
    "OperationType",
    "CDC_ENVELOPE_FIELDS",
    "CdcTableDescriptor",
    "build_cdc_log_schema",
    "TaskId",
    "TaskState",
]
