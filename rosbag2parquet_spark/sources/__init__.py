"""Sources: fixture catalog, message-definition schema compiler, and the
bag containers behind one scan driver (reference S1/S4 —
rosbag2parquet.cpp:41-63, MessageTable.cpp:305-361; see ``container``)."""
